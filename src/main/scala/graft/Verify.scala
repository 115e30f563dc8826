package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    // loud startup contract check (see Tables.contractCheck): a changed
    // on-disk encoding should be ONE clear failure, not 25 query errors
    try Tables.contractCheck(spark, sfDir)
    catch { case e: Throwable => System.err.println(e.getMessage) }
    new java.io.File(outDir).mkdirs()
    // dev aid (driver leaves unset): SPARK_GRAFT_VERIFY_ONLY="q43_pagerank"
    // dumps just those queries for a quick check.py spot-check
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd filter name would otherwise yield a partial verify output
    // indistinguishable from a clean run — log the active filter and die
    // on any requested name that matches no registered query
    only.foreach { names =>
      System.err.println(s"[verify] SPARK_GRAFT_VERIFY_ONLY active: ${names.toSeq.sorted.mkString(",")}")
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown query name(s) in SPARK_GRAFT_VERIFY_ONLY: ${unknown.toSeq.sorted.mkString(",")}")
        spark.stop(); sys.exit(2)
      }
    }
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The model-replay oracles name the sf0.01 model root statically;
    // re-anchor them to this run's actual model root (the same
    // modelRoot(dir) the Spark queries wrote to), which outlives this
    // process so the DuckDB replay reads the files THIS run created.
    System.err.println(s"[verify] models kept under ${Scratch.keepModels()}")
    val modelRootFix: String => String =
      _.replace("/tmp/graft_models/sf0.01", graft.ml.ModelOracles.modelRoot(sfDir))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(modelRootFix(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
