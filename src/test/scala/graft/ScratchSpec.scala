package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Every scratch path lives under the one [[Scratch]] root: the queries
  * that write temp dirs leave nothing loose in `java.io.tmpdir`, none of
  * their per-query dirs outlives the query, and no stream runs over
  * Spark's own temporary checkpoint dir. */
class ScratchSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  private def names(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet finally ls.close()
  }

  private def tmpGraftEntries(): Set[String] =
    names(Paths.get(System.getProperty("java.io.tmpdir"))).filter(_.startsWith("graft_"))

  /** Entries kept for the process: saved models, the artifact tables and
    * the staged stream sources. */
  private def processScoped(name: String): Boolean =
    name == "models" || name.startsWith("artifacts-") || name.startsWith("stream_src-")

  test("scratch-writing queries leave no graft_* entry in java.io.tmpdir and no per-query dir under the root") {
    val root = Scratch.root
    val tmpBefore = tmpGraftEntries()
    val queries = Seq("s11_stream_trending", "s12_stream_ann_upsert", "s13_stream_change_feed",
      "src1_csv_roundtrip", "src2_json_roundtrip", "src3_orc_roundtrip", "src4_text_roundtrip",
      "src5_xml_roundtrip", "m7_libsvm_roundtrip", "u3_range_layout", "q43_pagerank")
    val leftovers = queries.flatMap { q =>
      val before = names(root)
      assert(SparkEntry.queries(q)(spark, Sf).collect().nonEmpty, q)
      (names(root) -- before).filterNot(processScoped).map(d => s"$q: $d")
    }
    assert(leftovers.isEmpty, s"per-query dirs left under $root")
    assert(tmpGraftEntries() -- tmpBefore === Set.empty[String],
      s"graft_* entries outside $root")
    assert(ml.ModelOracles.modelRoot(Sf).startsWith(root.toString))
  }

  test("streams checkpoint under the root: no temporary-* entry in java.io.tmpdir while s11, s13 and s15 run") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // Spark's checkpoint dir for a stream started without a location
    def temporary(): Set[String] = names(tmp).filter(_.startsWith("temporary-"))
    val before = temporary()
    val seen = ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      // called on the thread that starts the query, once its checkpoint dir exists
      override def onQueryStarted(e: QueryStartedEvent): Unit = temporary().foreach(seen.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try Seq("s11_stream_trending", "s13_stream_change_feed", "s15_stream_metrics")
      .foreach(q => assert(SparkEntry.queries(q)(spark, Sf).collect().nonEmpty, q))
    finally spark.streams.removeListener(listener)
    assert(seen.asScala.toSet -- before === Set.empty[String])
  }

  test("a body that throws leaves its dir under the root, for the exit hook") {
    var seen: String = null
    intercept[IllegalStateException](Scratch.collected("fails") { d =>
      seen = d
      Files.writeString(Paths.get(d, "part"), "x")
      throw new IllegalStateException("query failed")
    })
    assert(Paths.get(seen).getParent === Scratch.root)
    assert(Files.exists(Paths.get(seen, "part")))
    Scratch.delete(seen)
    assert(!Files.exists(Paths.get(seen)))
  }

  test("delete removes a symlink to another dir and leaves the target's files alone") {
    val target = Scratch.dir("target")
    Files.writeString(Paths.get(target, "kept.parquet"), "x")
    val holder = Scratch.dir("holder")
    Files.createSymbolicLink(Paths.get(holder, "table.parquet"), Paths.get(target))
    Files.createSymbolicLink(Paths.get(holder, "file.parquet"), Paths.get(target, "kept.parquet"))
    Scratch.delete(holder)
    assert(!Files.exists(Paths.get(holder), java.nio.file.LinkOption.NOFOLLOW_LINKS))
    assert(Files.readString(Paths.get(target, "kept.parquet")) === "x")
    Scratch.delete(target)
  }
}
