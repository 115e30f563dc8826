package graft.ml

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The `$dir/state` marker of [[Icf]]'s and [[Ipm]]'s psvm-style
  * checkpoints: one line naming the last completely written dump. It
  * goes through the Hadoop `FileSystem` of `dir` (a local path, `file:`,
  * `hdfs:`, `s3a:`…), like the parquet dump next to it, so a rerun on
  * any node of a cluster finds both. */
private[ml] object ResumeMarker {

  /** The marker's content, or None when `dir` holds no completed dump. */
  def read(spark: SparkSession, dir: String): Option[String] = {
    val (fs, state) = locate(spark, dir)
    if (!fs.exists(state)) None
    else {
      val in = fs.open(state)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }
  }

  /** Writes a dump with `writeDump`, then the marker `content` naming it.
    * The old marker goes first and the new one lands by rename, so a
    * crash at any point leaves either no marker (the rerun starts over)
    * or a whole marker whose dump is complete. */
  def commit(spark: SparkSession, dir: String, content: String)(writeDump: => Unit): Unit = {
    val (fs, state) = locate(spark, dir)
    fs.delete(state, false)
    writeDump
    val tmp = new Path(state.getParent, "state.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, state)) throw new java.io.IOException(s"could not write $state")
  }

  private def locate(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val state = new Path(dir, "state")
    (state.getFileSystem(spark.sparkContext.hadoopConfiguration), state)
  }
}
