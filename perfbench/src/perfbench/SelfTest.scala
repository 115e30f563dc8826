package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own checks: call-site → layer attribution (including
  * the SQL-execution lookup), self-time arithmetic, and the generator's
  * determinism and label balance. Exits 1 if any fails.
  *
  * Usage: python3 perfbench/run.py --self-test
  */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private var checks = 0

  def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) failures += what
  }

  def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val work = new File(args(args.indexOf("--work") + 1))
    layerMapping()
    sqlLookup()
    selfTime()
    generator(work)
    sparkAttribution(work)
    if (failures.isEmpty) println(s"self-test: $checks checks passed")
    else {
      failures.foreach(f => println(s"FAILED: $f"))
      println(s"self-test: ${failures.length} of $checks checks failed")
      sys.exit(1)
    }
  }

  def layerMapping(): Unit = {
    check(Layers.siteFile("reduce at Ipm.scala:187") == "Ipm.scala", "siteFile")
    check(Layers.siteFile("count at Icf.scala:67") == "Icf.scala", "siteFile count")
    val cases = Seq(
      ("fit", "reduce at Icf.scala:110", Layers.Icf),
      ("fit", "count at Icf.scala:67", Layers.Icf),
      ("fit", "treeAggregate at Ipm.scala:150", Layers.Ipm),
      ("fit", "count at IcfSvm.scala:255", Layers.Trainer),
      ("fit", "fold at IcfSvm.scala:291", Layers.Trainer),
      ("fit", "", Layers.Trainer),
      ("score", "collect at Main.scala:140", Layers.Score),
      ("model_io", "text at IcfSvm.scala:61", Layers.ModelIo),
      ("ingest", "count at Main.scala:120", Layers.Ingest),
      ("svm_train", "count at Main.scala:120", Layers.Bench))
    cases.foreach { case (span, site, want) =>
      val got = Layers.of(span, site)
      check(got == want, s"Layers.of($span, $site) = $got, want $want")
    }
  }

  /** A SQL job submitted from an AQE pool thread names no program file in
    * its own call site: its site must come from the SQL execution's
    * description, and its span from another job of the same execution. */
  def sqlLookup(): Unit = {
    val tr = new Tracer(null)
    tr.enabled = true
    tr.span("fit") {
      tr.sqlStart(7, "count at Icf.scala:67")
      val first = tr.jobStart(1, 0.0, Some(1), Some(7),
        "$anonfun$withThreadLocalCaptured$1 at FutureTask.java:264", Seq(1))
      check(first.map(_.layer).contains(Layers.Icf), s"SQL job layer ${first.map(_.layer)}")
      check(first.map(_.site).contains("count at Icf.scala:67"), s"SQL job site ${first.map(_.site)}")
      val orphan = tr.jobStart(2, 1.0, None, Some(7), "run at FutureTask.java:264", Seq(2))
      check(orphan.map(_.span).contains(1), s"SQL job without span property: ${orphan.map(_.span)}")
      check(orphan.map(_.layer).contains(Layers.Icf), s"orphan layer ${orphan.map(_.layer)}")
      val rdd = tr.jobStart(3, 2.0, Some(1), None, "reduce at Ipm.scala:187", Seq(3))
      check(rdd.map(_.layer).contains(Layers.Ipm), s"RDD job layer ${rdd.map(_.layer)}")
      val stray = tr.jobStart(4, 3.0, None, None, "count at Other.scala:1", Seq(4))
      check(stray.isEmpty, "a job outside every span is ignored")
    }
  }

  def selfTime(): Unit = {
    check(SelfTime.union(Seq((5.0, 8.0), (0.0, 2.0), (1.0, 3.0), (8.0, 9.0))) ==
      List((0.0, 3.0), (5.0, 9.0)), "union")
    check(SelfTime.minus((0.0, 10.0), Seq((2.0, 3.0), (2.5, 4.0), (9.0, 12.0))) ==
      List((0.0, 2.0), (4.0, 9.0)), "minus")
    check(SelfTime.intersect(Seq((0.0, 5.0), (6.0, 10.0)), Seq((4.0, 7.0))) ==
      List((4.0, 5.0), (6.0, 7.0)), "intersect")

    // svm_train [0,100] with ingest [0,10], fit [10,80], model_io [80,95];
    // fit ran an ICF job to 30, an IPM job 35–60 and a trainer job 62–70
    val spans = Seq(Span(1, "svm_train", 0, 0, 100), Span(2, "ingest", 1, 0, 10),
      Span(3, "fit", 1, 10, 80), Span(4, "model_io", 1, 80, 95))
    def job(id: Int, layer: String, s: Double, e: Double) = {
      val j = new JobRec(id, 3, "", layer, s); j.end = e; j
    }
    val jobs = Seq(job(1, Layers.Icf, 12, 30), job(2, Layers.Ipm, 35, 60),
      job(3, Layers.Trainer, 62, 70))
    val segs = SelfTime.segments(spans, jobs)
    def wall(l: String) = SelfTime.length(segs.collect { case (`l`, iv) => iv })
    Seq(Layers.Bench -> 5.0, Layers.Ingest -> 10.0, Layers.Icf -> 20.0, Layers.Ipm -> 30.0,
        Layers.Trainer -> 20.0, Layers.ModelIo -> 15.0).foreach { case (l, want) =>
      check(near(wall(l), want), s"self time of $l = ${wall(l)}, want $want")
    }
    check(near(SelfTime.length(segs.map(_._2)), 100.0), "segments add up to the root span")
    val ipmSegs = segs.collect { case (Layers.Ipm, iv) => iv }
    val ipmDriver = wall(Layers.Ipm) - SelfTime.length(SelfTime.intersect(ipmSegs, Seq((35.0, 60.0))))
    check(near(ipmDriver, 5.0), s"ipm driver time $ipmDriver, want 5")
  }

  def generator(work: File): Unit = {
    def bytes(dir: File): Seq[Array[Byte]] =
      dir.listFiles().sortBy(_.getName).toSeq.map(f => Files.readAllBytes(f.toPath))
    val a = new File(work, "gen-a"); val b = new File(work, "gen-b"); val c = new File(work, "gen-c")
    Gen.writeLibSvm(a, 42, Gen.TrainStream, 3000, 4)
    Gen.writeLibSvm(b, 42, Gen.TrainStream, 3000, 4)
    Gen.writeLibSvm(c, 43, Gen.TrainStream, 3000, 4)
    check(bytes(a).zip(bytes(b)).forall { case (x, y) => java.util.Arrays.equals(x, y) },
      "same seed, same bytes")
    check(!bytes(a).zip(bytes(c)).forall { case (x, y) => java.util.Arrays.equals(x, y) },
      "another seed, other bytes")
    check(Gen.row(42, Gen.TrainStream, 5).x.sameElements(Gen.row(42, Gen.TrainStream, 5).x),
      "a row does not depend on the rows before it")

    val rows = (0 until 20000).map(i => Gen.row(7, Gen.TrainStream, i.toLong))
    val pos = rows.count(_.label > 0).toDouble / rows.length
    check(pos > 0.48 && pos < 0.52, s"positive share $pos")
    val flips = rows.sliding(2).count(p => p(0).label != p(1).label).toDouble / (rows.length - 1)
    check(flips > 0.47 && flips < 0.53, s"label flips between neighbouring ids $flips")
    val heldout = (0 until 20000).map(i => Gen.row(7, Gen.HeldoutStream, i.toLong))
    check(rows.zip(heldout).count { case (r, h) => r.label == h.label } < 10500,
      "streams are independent")
    val mean0 = rows.filter(_.label > 0).map(_.x(0)).sum / rows.count(_.label > 0)
    val mean9 = rows.filter(_.label > 0).map(_.x(9)).sum / rows.count(_.label > 0)
    check(math.abs(mean0 - Gen.Shift) < 0.05, s"class mean on a shifted dim $mean0")
    check(math.abs(mean9) < 0.05, s"class mean on an unshifted dim $mean9")
    val line = Gen.libsvmLine(rows.head)
    check(line.split(' ').tail.map(_.split(':')(1).toDouble).sameElements(rows.head.x),
      "printed values parse back to the generated doubles")
  }

  /** End to end through a real listener: a tiny fit inside a `fit` span
    * puts every job in icf, ipm or trainer, one ICF pass per rank column. */
  def sparkAttribution(work: File): Unit = {
    val spark = Main.session(work)
    try {
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      val dir = new File(work, "tiny")
      Gen.writeLibSvm(dir, 3, Gen.TrainStream, 400, 2)
      val df = Main.readRows(spark, dir).persist()
      df.count()
      tr.enabled = true
      tr.span(Layers.FitSpan) {
        graft.ml.IcfSvmTrainer.fit(df, "id", "features", "label",
          graft.ml.Kernel.Rbf(Main.Gamma), 4, maxIter = 3, tol = 1e-9)
      }
      tr.enabled = false
      tr.drain()
      val jobs = tr.jobs
      val layers = jobs.map(_.layer).toSet
      check(jobs.nonEmpty, "fit ran jobs")
      check(layers.subsetOf(Set(Layers.Icf, Layers.Ipm, Layers.Trainer)), s"fit layers $layers")
      check(Seq(Layers.Icf, Layers.Ipm, Layers.Trainer).forall(layers.contains),
        s"fit reaches icf, ipm and trainer: $layers")
      check(jobs.count(_.site.startsWith("reduce at Icf.scala")) == 4,
        s"ICF passes ${jobs.count(_.site.startsWith("reduce at Icf.scala"))}, want 4")
      check(jobs.count(_.site.startsWith("reduce at Ipm.scala")) == 3,
        s"IPM steps ${jobs.count(_.site.startsWith("reduce at Ipm.scala"))}, want 3")
      check(jobs.forall(j => !j.end.isNaN), "every job ended")
      check(!jobs.exists(_.site.contains("FutureTask")), "no job left with a pool-thread site")
    } finally spark.stop()
  }
}
