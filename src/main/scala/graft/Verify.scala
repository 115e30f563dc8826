package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // dev aid (driver leaves unset): SPARK_GRAFT_VERIFY_ONLY="q43_pagerank"
    // dumps just those queries for a quick check.py spot-check
    val selected = QuerySpec.selectOrExit("verify", "SPARK_GRAFT_VERIFY_ONLY",
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = GraftSession()
    // loud startup contract check (see Tables.contractCheck): a changed
    // on-disk encoding should be ONE clear failure, not 25 query errors
    try Tables.contractCheck(spark, sfDir)
    catch { case e: Throwable => System.err.println(e.getMessage) }
    new java.io.File(outDir).mkdirs()
    selected.foreach { spec =>
      try spec.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${spec.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
      }
      QuerySpec.clearAll(spark)
    }
    // The model-replay oracles name the placeholder model root; re-anchor
    // them to this run's actual model root (the same modelRoot(dir) the
    // Spark queries wrote to), which outlives this process so the DuckDB
    // replay reads the files THIS run created. Jackson escapes every
    // control char, so the driver's json.load reads any oracle text.
    System.err.println(s"[verify] models kept under ${Scratch.keepModels()}")
    val root = graft.ml.ModelOracles.modelRoot(sfDir)
    val oracles = new java.util.LinkedHashMap[String, String]()
    QuerySpec.select(None).foreach(s => s.oracle.foreach(sql =>
      oracles.put(s.name, sql.replace(graft.ml.ModelOracles.PlaceholderRoot, root))))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracles)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
