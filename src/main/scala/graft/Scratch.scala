package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.apache.spark.sql.DataFrame

/** The one scratch root: every temp dir, artifact table and saved model
  * of this process lives under a `graft_scratch*` directory in
  * `java.io.tmpdir`, made on first use with one JVM shutdown hook that
  * deletes it. Each process has its own root, so two runs on one host
  * never share a path. Under it, `models/<sf dir name>` holds the saved
  * models and factors the DuckDB oracles replay
  * ([[graft.ml.ModelOracles.modelRoot]]), and each [[dir]] call makes a
  * fresh `<name>-<n>`.
  *
  * Per-query lifecycle: a query deletes its dirs once its result no
  * longer reads them; [[collected]] runs a body over a fresh dir, collects
  * its small result to a local frame, then deletes the dir. A body that
  * throws leaves its dir under the root, for the hook.
  *
  * Verify's kept models: the DuckDB replay reads the models that Verify's
  * oracle SQL names after Verify exits, so Verify calls [[keepModels]] and
  * the hook then deletes all but `models`. Nothing else keeps files.
  *
  * [[delete]] never follows a symbolic link: it deletes the link and
  * leaves the target alone (streams stage single-file corpus tables
  * behind links to the dataset's files). */
object Scratch {

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var keep = false

  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!keep) delete(r.toString)
      else Option(r.toFile.listFiles()).toSeq.flatten.filter(_.getName != "models")
        .foreach(f => delete(f.getPath))))
    r
  }

  def models: String = root.resolve("models").toString

  /** Keeps [[models]] past this process's exit; returns its path. */
  def keepModels(): String = { keep = true; models }

  /** A fresh, empty directory `<root>/<name>-<n>`. */
  def dir(name: String): String =
    Files.createDirectory(root.resolve(s"$name-${seq.incrementAndGet()}")).toString

  /** `body` over a fresh [[dir]], deleted once `body` returns; the result
    * must no longer read the dir's files. */
  def using[T](name: String)(body: String => T): T = {
    val d = dir(name)
    val out = body(d)
    delete(d)
    out
  }

  /** [[using]] with the body's small result collected to a local frame. */
  def collected(name: String)(body: String => DataFrame): DataFrame =
    using(name)(d => local(body(d)))

  /** `df` collected to a local frame that reads no file. Only for small
    * (aggregate-sized) results, never for row-scale outputs. */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p) // pre-order, links not followed: children go first in reverse
      try walk.toArray.reverse.foreach(f => Files.deleteIfExists(f.asInstanceOf[Path]))
      finally walk.close()
    }
  }
}
