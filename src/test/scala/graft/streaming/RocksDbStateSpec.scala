package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import EventStreams.Event

/** §2.5 scale: the stateful streaming queries default to the RocksDB
  * state store (off-heap, spill-to-disk — the provider that survives
  * 10M+-key dedup state; the in-memory HDFSBackedStateStore holds every
  * key on-heap). These specs pin (a) that the provider actually engages
  * and (b) that results are bit-identical across providers, so setting
  * the provider conf directly can never change answers. */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 86400000L
  private def ts(minutes: Long): Timestamp = new Timestamp(Base + minutes * 60000L)

  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  private def dedupUnder(provider: String): Set[Long] = {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.get(Provider, "")
    spark.conf.set(Provider, provider)
    try {
      val ms = MemoryStream[Event]
      val name = "rocks_dedup_" + provider.hashCode.abs
      val q = EventStreams.dedupedEvents(ms.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        ms.addData(
          Event(1, ts(1), 1, "click", 1.0), Event(1, ts(2), 1, "click", 1.0),
          Event(2, ts(3), 2, "view", 2.0), Event(3, ts(4), 1, "click", 3.0),
          Event(2, ts(5), 2, "view", 2.0), Event(4, ts(6), 3, "view", 4.0))
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(0)).toSet
      } finally q.stop()
    } finally {
      if (prev.isEmpty) spark.conf.unset(Provider) else spark.conf.set(Provider, prev)
    }
  }

  test("default provider resolves to RocksDB (memory only by explicit override)") {
    assert(EventStreams.stateStoreProvider.endsWith("RocksDBStateStoreProvider"))
  }

  test("streaming dedup state behaves identically under RocksDB and in-memory providers") {
    val rocks = dedupUnder(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = dedupUnder(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    assert(rocks === Set(1L, 2L, 3L, 4L))
    assert(rocks === mem)
  }

  test("a memory-sink stream restores the state-store confs it overrides") {
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    val prev = Seq(Provider, changelog).map(k => k -> spark.conf.get(k, ""))
    // sentinels: the opposite of what the stream sets for itself
    spark.conf.set(Provider, hdfs)
    spark.conf.set(changelog, "false")
    try {
      assert(EventStreams.s14StreamKmv(spark, "/root/testdata/sf0.001").collect().nonEmpty)
      assert(spark.conf.get(Provider) === hdfs)
      assert(spark.conf.get(changelog) === "false")
    } finally prev.foreach { case (k, v) =>
      if (v.isEmpty) spark.conf.unset(k) else spark.conf.set(k, v)
    }
  }
}
