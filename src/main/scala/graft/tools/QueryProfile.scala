package graft.tools

import org.apache.spark.scheduler.SparkListener
import graft.QuerySpec

/** Dev-only: run each named query and attribute its wall time to
  * Spark jobs by call site — the §1 "where does the time go" loop for a
  * multi-job query (fits, iterative ladders, persist-and-replay builds
  * all submit many jobs; per-query seconds alone can't localize them).
  *
  * Usage: QueryProfile <sfDir> <query[,query...]> [repeats]
  * Repeats > 1 separates memoized-artifact cost (first run) from
  * steady-state query cost (later runs). Warms up and clears between
  * runs as Bench does ([[graft.QuerySpec]]).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val selected = QuerySpec.selectOrExit("profile", "query argument", Some(args(1)))
    val repeats = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession()
    // Attribute per STAGE: AQE runs each query stage as its own job on the
    // execution pool (the job-level call site is a CompletableFuture frame),
    // but StageInfo.details carries the full submission stack — the first
    // graft frame names the operator phase.
    val done = scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val site = info.details.linesIterator
          .map(_.trim)
          .find(l => l.contains("graft.") && !l.contains("QueryProfile") &&
                     !l.contains("graft.tools"))
          .getOrElse(info.name)
        val wall = (for {a <- info.submissionTime; b <- info.completionTime}
          yield (b - a) / 1e3).getOrElse(0.0)
        done.synchronized { done += ((site, wall, info.numTasks)) }
      }
    })
    // Per-ACTION attribution: every count/collect/write/checkpoint fires
    // onSuccess with its duration — the reliable phase segmentation when
    // AQE hides job call sites.
    val actions = scala.collection.mutable.ArrayBuffer[(String, Double, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val cols = qe.analyzed.output.map(_.name).take(6).mkString(",")
        actions.synchronized { actions += ((funcName, durationNs / 1e9, cols)) }
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    QuerySpec.warmUp(spark, dir)
    for (spec <- selected; r <- 1 to repeats) {
      done.synchronized(done.clear())
      actions.synchronized(actions.clear())
      QuerySpec.clearAll(spark)
      val t0 = System.nanoTime()
      val n = QuerySpec.forcedCount(spec.run(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"\n=== run $r: ${spec.name} total $dt%.2fs rows=$n ===")
      val snap = done.synchronized(done.toVector)
      val bySite = snap.groupBy(_._1).map { case (s, v) =>
        (s, v.map(_._2).sum, v.size, v.map(_._3).sum)
      }.toSeq.sortBy(-_._2)
      println(f"${"site (first graft frame)"}%-84s ${"sec"}%8s ${"stages"}%6s ${"tasks"}%6s")
      bySite.foreach { case (s, sec, nj, nt) =>
        println(f"${s.take(84)}%-84s $sec%8.2f $nj%6d $nt%6d")
      }
      println(f"[sum of stage wall] ${snap.map(_._2).sum}%.2fs over ${snap.size} stages")
      val acts = actions.synchronized(actions.toVector)
      println(f"\n-- actions (QueryExecutionListener), chronological --")
      acts.foreach { case (f2, sec, cols) =>
        if (sec >= 0.05) println(f"$f2%-18s $sec%7.2fs  [$cols]")
      }
      println(f"[sum of action wall] ${acts.map(_._2).sum}%.2fs over ${acts.size} actions")
    }
    spark.stop()
  }
}
