package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-scoped materialized intermediates, shared across queries in
  * one bench/verify run.
  *
  * Several query families share one expensive upstream product — the
  * verified near-dup PAIRS table feeds p2 (order it), p14 (connected
  * components over it) and p25 (join it); the customer–supplier edge
  * list feeds q43 (PageRank) and q44 (reachability). At 100 TB these are
  * exactly the intermediates a production pipeline materializes once
  * (the same persisted-artifact pattern as the m8 model files and the
  * u10 IVF layout); within one JVM we key them by (kind, data dir) so
  * whichever consumer runs first pays the cost and the rest read parquet.
  *
  * Keying: the on-disk path uses an md5 digest of the full dir string
  * (collision-resistant — `dir.hashCode` could let two dirs silently
  * share a path) and the done-guard uses the same digest, so path and
  * guard can never disagree. The tables live in one [[Scratch]] dir,
  * which the scratch root's shutdown hook deletes.
  */
object ProcessArtifacts {

  private lazy val root: String = Scratch.dir("artifacts")

  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // per-kind build seconds, exposed so Bench can emit them INTO the
  // summary JSON: the artifact cost lands in the first consumer's
  // timing window, and a stderr-only log made the r8 204s p14 outlier
  // unattributable from the committed artifact alone
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Seconds spent building each artifact kind so far this process. */
  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.toMap
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The parquet table for (kind, dir), building it exactly once per
    * process. `build` must produce the full DataFrame to persist; reads
    * always come back from the written parquet so every consumer sees
    * the identical bytes regardless of plan nondeterminism upstream. */
  def table(spark: SparkSession, kind: String, dir: String)
           (build: => DataFrame): DataFrame = {
    val key = s"${kind}_${md5hex(dir)}"
    val path = s"$root/$key"
    done.synchronized {
      if (!done.contains(key)) {
        // build cost lands in the FIRST consumer's timing window; log it
        // so bench regressions can be attributed (artifact vs query)
        val t0 = System.nanoTime()
        build.write.mode("overwrite").parquet(path)
        val secs = (System.nanoTime() - t0) / 1e9
        buildSecs.merge(kind, secs, (a, b) => a + b)
        System.err.println(f"[artifact] $kind built in $secs%.2fs")
        done.add(key)
      }
    }
    spark.read.parquet(path)
  }
}
