package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PlanAuditSpec extends SparkSpec {

  test("PlanAudit prints the final adaptive plan of the query it ran") {
    val df = spark.range(1000).groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
    val plan = PlanAudit.executedPlan(df)
    assert(plan.contains("isFinalPlan=true"), plan)
  }
}
