package graft

import org.apache.spark.sql.SparkSession

/** The one engine setup: every entry point (Bench, Verify, the dev
  * tools) and the test session get their SparkSession here, so the
  * plans the oracles check are the plans the bench times.
  *
  * Environment (read only here): SPARK_GRAFT_CPUS (local cores,
  * default 4) and SPARK_GRAFT_UI (default false). */
object GraftSession {
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Fine-grained INITIAL shuffle partitioning, AQE coalesces small
      // stages back down: with a static 32, a shuffle whose rows are fat
      // (dedup verification joins carry ~1KB shingle arrays per pair)
      // concentrates gigabytes per sort buffer — measured GC-storm →
      // heartbeat-timeout → dead context on a 500k-doc corpus. 8×cpus
      // initial granularity caps per-partition bytes at scale and costs
      // nothing small (AQE merges sub-64MB partitions immediately).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      // finer scan grain than the 128m default: compressed columnar
      // bytes under-represent decode work, and a ~100MB single-file
      // table otherwise scans 1-wide on a 32-core box
      .config("spark.sql.files.maxPartitionBytes", "32m")
      // AQE's 64m coalesce target is tuned for byte-proportional work;
      // pair-expansion stages (dedup banding) multiply row counts after
      // the shuffle, so a finer target keeps their parallelism. No
      // coalescing floor (coalescePartitions.minPartitionNum): A/B'd in
      // r15 at 32 cores, floor=cpus was a wash on the anti-scaling
      // cluster (127.5 vs 129.1 s) and HURT the iterative queries
      // (p59 +1.3 s, p39 +1.0 s, p7c +0.9 s).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // let AQE coalesce the plans that MATERIALIZE persisted frames:
      // without this (default false) a persist() under the 8×cpus
      // initial shuffle grain is pinned at the un-coalesced width — the
      // iterative operators (pagerank/ppr/sssp, IPM feeds, dedup
      // clusters) were scheduling 256-task stages over kilobyte
      // partitions every iteration (measured: q52 ran 3120 tasks for a
      // 16k-row graph). Cached-plan output partitioning is not part of
      // any query's semantics.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // static conf, default 100: the ML queries embed fitted weights as
      // literals, so each generates UNIQUE whole-stage sources that flood
      // the compiled-class cache; once it thrashes, every later task
      // recompiles its stage via janino at seconds per task (observed
      // 30-90x slowdowns on the cleaning queries). 1500 was validated in
      // round 5 together with the JVM's 512m code cache.
      .config("spark.sql.codegen.cache.maxEntries", "1500")
      .config("spark.sql.session.timeZone", "UTC")
      // SPARK_GRAFT_UI=true exposes the web UI / REST API for plan-level
      // debugging of scaled runs
      .config("spark.ui.enabled", sys.env.getOrElse("SPARK_GRAFT_UI", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
