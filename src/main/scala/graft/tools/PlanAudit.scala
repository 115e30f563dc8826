package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev-only: dump the plans the bench runs, for scan/join-strategy
  * auditing. Usage: PlanAudit [sfDir] [query,query,...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSet else Set[String]()
    val spark = graft.GraftSession()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try println(executedPlan(fn(spark, dir)))
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }

  /** Runs `df` the way Bench times it and returns the FINAL adaptive
    * plan of that same QueryExecution — the only place ReusedExchange
    * and AQEShuffleRead are visible (an unexecuted plan expands
    * duplicate subtrees that AQE deduplicates at runtime). */
  def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }
}
