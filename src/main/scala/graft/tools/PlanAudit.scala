package graft.tools

import org.apache.spark.sql.DataFrame
import graft.QuerySpec

/** Dev-only: dump the plans the bench runs, for scan/join-strategy
  * auditing. Usage: PlanAudit [sfDir] [query,query,...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val selected = QuerySpec.selectOrExit("plan-audit", "query argument", args.lift(1))
    val spark = graft.GraftSession()
    selected.foreach { spec =>
      println(s"\n========== ${spec.name} ==========")
      try println(executedPlan(spec.run(spark, dir)))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }

  /** Runs `df` the way Bench times it and returns the FINAL adaptive
    * plan of that same QueryExecution — the only place ReusedExchange
    * and AQEShuffleRead are visible (an unexecuted plan expands
    * duplicate subtrees that AQE deduplicates at runtime). */
  def executedPlan(df: DataFrame): String = {
    QuerySpec.forcedCount(df)
    df.queryExecution.executedPlan.toString
  }
}
