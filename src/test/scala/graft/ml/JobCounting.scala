package graft.ml

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Job guards for specs: how many Spark jobs a piece of code submits,
  * what they are named, and how many shuffle bytes their tasks write. */
trait JobCounting { self: SparkSpec =>

  /** Jobs submitted while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, sites, _) = measured(body)
    (out, sites.length)
  }

  /** The call sites ("collect at Icf.scala:42", the names Spark gives the
    * jobs' result stages) of the jobs `body` submits, in job order. */
  def sitesDuring[T](body: => T): (T, Seq[String]) = {
    val (out, sites, _) = measured(body)
    (out, sites)
  }

  /** Shuffle bytes written by the tasks of the jobs `body` submits. */
  def shuffleBytesDuring[T](body: => T): (T, Long) = {
    val (out, _, bytes) = measured(body)
    (out, bytes)
  }

  /** Jobs and shuffle bytes between two fence jobs, counted by a
    * SparkListener (the listener bus is asynchronous, and delivers a
    * job's task ends before the fence that follows it). */
  private def measured[T](body: => T): (T, Seq[String], Long) = {
    val sc = spark.sparkContext
    val fences = new ConcurrentHashMap[String, Integer]()
    val started = new ConcurrentHashMap[Integer, String]()
    val stageJob = new ConcurrentHashMap[Integer, Integer]()
    val stageBytes = new ConcurrentHashMap[Integer, AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.put(e.jobId, e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        Option(e.properties).flatMap(p => Option(p.getProperty("psvm.fence")))
          .foreach(f => fences.put(f, e.jobId))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          stageBytes.computeIfAbsent(e.stageId, _ => new AtomicLong())
            .addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    }
    def fence(name: String): Int = {
      sc.setLocalProperty("psvm.fence", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("psvm.fence", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!fences.containsKey(name) && System.nanoTime() < deadline) Thread.sleep(10)
      fences.get(name).intValue
    }
    sc.addSparkListener(listener)
    try {
      val first = fence(s"a${System.nanoTime()}")
      val out = body
      val last = fence(s"b${System.nanoTime()}")
      def inside(job: Int) = job > first && job < last
      val sites = started.asScala.toSeq.filter(j => inside(j._1)).sortBy(_._1.intValue).map(_._2)
      var bytes = 0L
      stageBytes.forEach { (stage, b) =>
        if (Option(stageJob.get(stage)).exists(j => inside(j))) bytes += b.get
      }
      (out, sites, bytes)
    } finally sc.removeSparkListener(listener)
  }
}
