package graft

import scala.util.Try
import org.apache.spark.sql.graft.CacheProbe

/** Cache-leak guard for specs: what a piece of code leaves cached when it
  * returns or throws. */
trait CacheLeaks { self: SparkSpec =>

  /** `body`'s outcome, the ids of the RDDs it left persisted, and how many
    * cached plans it left in the session's cache manager. */
  def leftCached[T](body: => T): (Try[T], Set[Int], Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val plans = CacheProbe.cachedPlans(spark)
    // `getPersistentRDDs` holds its RDDs weakly, so a leaked RDD that is
    // no longer reachable can drop out of it at any GC; a poller pins
    // every RDD it sees there until the check has run
    val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    @volatile var running = true
    val poller = new Thread(() =>
      while (running) { sc.getPersistentRDDs.values.foreach(pinned.add); Thread.sleep(1) })
    poller.setDaemon(true)
    poller.start()
    val out = try Try(body) finally { running = false; poller.join() }
    val left = (sc.getPersistentRDDs.keySet -- before).toSet
    java.lang.ref.Reference.reachabilityFence(pinned)
    (out, left, CacheProbe.cachedPlans(spark) - plans)
  }
}
