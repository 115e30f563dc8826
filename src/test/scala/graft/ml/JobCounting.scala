package graft.ml

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Job guards for specs: how many Spark jobs a piece of code submits. */
trait JobCounting { self: SparkSpec =>

  /** Jobs submitted while `body` runs, counted by a SparkListener between
    * two fence jobs (the listener bus is asynchronous). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val fences = new ConcurrentHashMap[String, Integer]()
    val started = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(e.jobId)
        Option(e.properties).flatMap(p => Option(p.getProperty("psvm.fence")))
          .foreach(f => fences.put(f, e.jobId))
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
      var jobs = 0
      started.forEach(id => if (id > first && id < last) jobs += 1)
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }
}
