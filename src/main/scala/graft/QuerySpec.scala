package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the function that builds its result
  * from a session and a data dir, and the DuckDB SQL that must return the
  * same rows over the same parquet tables (`None` only for the
  * engine-private sketches, which each have an exact twin). A spec is
  * defined next to the operator it runs, with its oracle beside it;
  * [[SparkEntry.specs]] lists them all. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The harness every main shares (Bench, Verify, QueryProfile,
  * PlanAudit): which queries a run takes, the warm-up before timing, the
  * forced execution, and the clear-all between queries. */
object QuerySpec {

  /** The specs `filter` names (comma-separated), in name order; all of
    * them when the filter is unset or names nothing. A name that matches
    * no spec is an error, so a typo cannot pass for a clean partial run. */
  def select(filter: Option[String], specs: Seq[QuerySpec] = SparkEntry.specs): Seq[QuerySpec] = {
    val names = filter.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- specs.map(_.name)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(",")}")
    specs.filter(s => names.isEmpty || names(s.name)).sortBy(_.name)
  }

  /** [[select]] for a main, before it starts any work: logs a partial
    * selection on stderr as `[tag] source active: …`, and exits with
    * status 2 on an unknown name. `source` names where the filter came from. */
  def selectOrExit(tag: String, source: String, filter: Option[String]): Seq[QuerySpec] =
    try {
      val selected = select(filter)
      if (selected.size < SparkEntry.specs.size)
        System.err.println(s"[$tag] $source active: ${selected.map(_.name).mkString(",")}")
      selected
    } catch { case e: IllegalArgumentException =>
      System.err.println(s"[$tag] ${e.getMessage} in $source")
      sys.exit(2)
    }

  /** Warms the session before the first timed query: touches each table
    * and runs m2 once, so the first query does not absorb JVM and codegen
    * start-up, then fits a tiny Nyström SVM, because breeze's
    * eigendecomposition (netlib's LAPACK set-up), MLlib's LinearSVC and
    * the Nyström codegen all pay seconds on first use. Ends with [[clearAll]]. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Tables.all.foreach { t => Tables.load(spark, sfDir, t).limit(64).count() }
    try { graft.ml.MlQueries.kernelValues(spark, sfDir).count() }
    catch { case _: Throwable => () }
    try {
      import org.apache.spark.sql.functions._
      val tiny = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 48)
        .withColumn("y", when(col("label") % 2 === 0, 1.0).otherwise(-1.0))
      graft.ml.KernelSvmTrainer.fit(tiny, "vec_id", "embedding", "y",
        graft.ml.KernelSvmParams(kernel = graft.ml.Kernel.Rbf(0.05),
          numLandmarks = 8, regParam = 1e-3, maxIter = 2, tol = 1e-3))
    } catch { case _: Throwable => () }
    clearAll(spark)
  }

  /** Executes `df` with every output column computed and returns its row
    * count. A bare count() lets Catalyst prune unused columns and even
    * whole subtrees (a left join against a grouped, hence key-distinct,
    * side keeps cardinality, so count() drops the join: m6's kernel-sum
    * scoring stage was optimized away that way); toRdd.count() consumes
    * the executed plan's UnsafeRows without per-row conversion. */
  def forcedCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** The clear-all between independent queries: drops every cached frame
    * and persisted RDD an operator left behind, blocking, then collects
    * garbage, so no query is taxed by an earlier one's memory. */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}
