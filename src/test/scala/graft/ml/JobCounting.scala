package graft.ml

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Job guards for specs: how many Spark jobs a piece of code submits,
  * and how many shuffle bytes their tasks write. */
trait JobCounting { self: SparkSpec =>

  /** Jobs submitted while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, jobs, _) = measured(body)
    (out, jobs)
  }

  /** Shuffle bytes written by the tasks of the jobs `body` submits. */
  def shuffleBytesDuring[T](body: => T): (T, Long) = {
    val (out, _, bytes) = measured(body)
    (out, bytes)
  }

  /** Jobs and shuffle bytes between two fence jobs, counted by a
    * SparkListener (the listener bus is asynchronous, and delivers a
    * job's task ends before the fence that follows it). */
  private def measured[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val fences = new ConcurrentHashMap[String, Integer]()
    val started = new ConcurrentLinkedQueue[Integer]()
    val stageJob = new ConcurrentHashMap[Integer, Integer]()
    val stageBytes = new ConcurrentHashMap[Integer, AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(e.jobId)
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
      var jobs = 0
      started.forEach(id => if (inside(id)) jobs += 1)
      var bytes = 0L
      stageBytes.forEach { (stage, b) =>
        if (Option(stageJob.get(stage)).exists(j => inside(j))) bytes += b.get
      }
      (out, jobs, bytes)
    } finally sc.removeSparkListener(listener)
  }
}
