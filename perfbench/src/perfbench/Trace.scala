package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Layer names, after the `graft.ml` objects they time. */
object Layers {
  val Ingest = "ingest"       // LibSvmIO.read (+ materializing the rows)
  val Icf = "icf"             // Icf.factorize
  val Ipm = "ipm"             // Ipm.solve
  val Trainer = "trainer"     // the rest of IcfSvmTrainer.fit
  val ModelIo = "model_io"    // saveText / loadText
  val Score = "score"         // IcfSvmModel.predict + SvmEvaluator
  val Bench = "bench"         // the benchmark's own glue between calls
  val All: Seq[String] = Seq(Ingest, Icf, Ipm, Trainer, ModelIo, Score)

  /** The span that wraps `IcfSvmTrainer.fit`; its jobs are split by call site. */
  val FitSpan = "fit"

  /** "reduce at Ipm.scala:187" → "Ipm.scala". */
  def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val tail = if (at >= 0) site.substring(at + 4) else site
    val colon = tail.indexOf(':')
    (if (colon >= 0) tail.substring(0, colon) else tail).trim
  }

  /** The layer of a job submitted inside span `span` from call site `site`. */
  def of(span: String, site: String): String =
    if (span == FitSpan) siteFile(site) match {
      case "Icf.scala" => Icf
      case "Ipm.scala" => Ipm
      case _ => Trainer
    }
    else spanLayer(span)

  /** The layer a span's own (self) time belongs to. */
  def spanLayer(span: String): String =
    if (span == FitSpan) Trainer
    else if (All.contains(span)) span
    else Bench
}

final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

final class JobRec(val id: Int, val span: Int, val site: String, val layer: String,
                   val start: Double) {
  var end: Double = Double.NaN
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
}

/** Spans around the benchmark's calls into the program, and the Spark
  * jobs each one submitted. Spans are kept in memory; `SpanProp` tags the
  * submitting thread (a local property, so the SQL execution's
  * `description` — the call site — is left as Spark sets it).
  *
  * A job is attributed to a span by its `SpanProp`, falling back to the
  * span seen on another job of the same SQL execution, and to a call
  * site by its SQL execution's description (AQE submits SQL jobs from
  * pool threads, whose own call site names no program file), else by its
  * result stage's name ("reduce at Ipm.scala:187"). Times are epoch
  * milliseconds, the clock Spark stamps job events with.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  @volatile var enabled = false
  val spans = ArrayBuffer[Span]()
  private val spanNames = new ConcurrentHashMap[Int, String]()
  private var stack: List[Int] = Nil
  private var nextSpan = 1

  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      spanNames.put(id, name)
      stack = id :: stack
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, start, end)
      }
    }

  // ---- listener side (the listener-bus thread) ----
  private val sqlDescription = mutable.Map[Long, String]()
  private val sqlSpan = mutable.Map[Long, Int]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val jobsById = mutable.LinkedHashMap[Int, JobRec]()
  private val drainJobs = mutable.Map[Int, Long]()
  private var drained = 0L
  private var drainToken = 0L
  private val cached = mutable.Map[String, Long]()
  private var cachedNow = 0L
  @volatile var cachePeakBytes = 0L

  def jobs: Seq[JobRec] = synchronized(jobsById.values.toSeq)

  /** SQL execution started: remember its description (its call site). */
  def sqlStart(executionId: Long, description: String): Unit = synchronized {
    sqlDescription(executionId) = description
  }

  /** Job started: attribute it, or ignore it when it belongs to no span. */
  def jobStart(jobId: Int, time: Double, spanProp: Option[Int], execution: Option[Long],
               resultStageName: String, stageIds: Seq[Int]): Option[JobRec] = synchronized {
    val span = spanProp.orElse(execution.flatMap(sqlSpan.get))
    (span, execution) match {
      case (Some(s), Some(e)) => sqlSpan.getOrElseUpdate(e, s)
      case _ =>
    }
    span.flatMap(s => Option(spanNames.get(s)).map(s -> _)).map { case (s, name) =>
      val site = execution.flatMap(sqlDescription.get).getOrElse(resultStageName)
      val rec = new JobRec(jobId, s, site, Layers.of(name, site), time)
      jobsById(jobId) = rec
      stageIds.foreach(stageJob(_) = rec)
      rec
    }
  }

  def clear(): Unit = synchronized {
    spans.clear(); jobsById.clear(); stageJob.clear(); cachePeakBytes = cachedNow
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => sqlStart(e.executionId, e.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(DrainProp) match {
      case Some(token) => synchronized { drainJobs(e.jobId) = token.toLong }
      case None =>
        val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        jobStart(e.jobId, e.time.toDouble, prop(SpanProp).map(_.toInt),
          prop("spark.sql.execution.id").map(_.toLong), result, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time.toDouble)
    drainJobs.remove(e.jobId).foreach { token => drained = token; notifyAll() }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
    }
  }

  // unpersist removes blocks without per-block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    cached.keys.filter(_.startsWith(prefix)).toList.foreach { k => cachedNow -= cached(k); cached.remove(k) }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedNow += now - cached.getOrElse(key, 0L)
      if (now == 0L) cached.remove(key) else cached(key) = now
      cachePeakBytes = math.max(cachePeakBytes, cachedNow)
    }
  }

  /** Blocks until the listener has seen every event posted so far: runs a
    * one-task marker job and waits for its end event, which the listener
    * bus delivers after everything queued before it. */
  def drain(): Unit = {
    drainToken += 1
    val prev = sc.getLocalProperty(DrainProp)
    sc.setLocalProperty(DrainProp, drainToken.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainProp, prev)
    val deadline = System.currentTimeMillis() + 30000
    synchronized {
      while (drained < drainToken && System.currentTimeMillis() < deadline) wait(100)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val DrainProp = "perfbench.drain"
}

/** Interval arithmetic for self time. Intervals are (start, end) pairs. */
object SelfTime {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): List[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(ivs: Seq[Iv]): Double = ivs.map(iv => iv._2 - iv._1).sum

  /** `a` minus the union of `bs`. */
  def minus(a: Iv, bs: Seq[Iv]): List[Iv] = {
    val out = ArrayBuffer[Iv]()
    var cur = a._1
    union(bs).foreach { case (s, e) =>
      if (e > cur && s < a._2) {
        if (s > cur) out += ((cur, s))
        cur = math.max(cur, e)
      }
    }
    if (cur < a._2) out += ((cur, a._2))
    out.toList
  }

  def intersect(as: Seq[Iv], bs: Seq[Iv]): List[Iv] = {
    val ub = union(bs)
    union(as).flatMap { case (s, e) =>
      ub.flatMap { case (x, y) =>
        val lo = math.max(s, x); val hi = math.min(e, y)
        if (hi > lo) Some((lo, hi)) else None
      }
    }
  }

  /** Splits every span's self time (its interval minus its children's)
    * into layer-tagged segments that never overlap, so the segments of a
    * span tree add up to its root's wall time. A span's self time goes to
    * its own layer, except the fit span's, which is cut at each of its
    * jobs' ends: the piece up to a job's end (its planning, its run and
    * the driver work before it, such as the IPM's p×p solve) goes to the
    * job's layer, the piece after the last job to the trainer. */
  def segments(spans: Seq[Span], jobs: Seq[JobRec]): Seq[(String, Iv)] = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.filter(j => !j.end.isNaN).groupBy(_.span)
    spans.flatMap { s =>
      val self = minus((s.start, s.end),
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      if (s.name != Layers.FitSpan) self.map(Layers.spanLayer(s.name) -> _)
      else {
        var cursor = s.start
        val pieces = ArrayBuffer[(String, Iv)]()
        jobsBySpan.getOrElse(s.id, Nil).sortBy(_.end).foreach { j =>
          val e = math.min(j.end, s.end)
          if (e > cursor) { pieces += (j.layer -> ((cursor, e))); cursor = e }
        }
        if (s.end > cursor) pieces += (Layers.spanLayer(s.name) -> ((cursor, s.end)))
        pieces.toSeq.flatMap { case (l, iv) => intersect(Seq(iv), self).map(l -> _) }
      }
    }
  }
}
