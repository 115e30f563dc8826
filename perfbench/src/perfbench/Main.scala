package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

import graft.ml.{IcfSvmModel, IcfSvmTrainer, Kernel, LibSvmIO, SvmEvaluator}

/** One workload: its input sizes and its output floors. `nTrain = 0`
  * means svm_predict only, against a generated `nSv`-SV model. */
final case class Workload(name: String, nTrain: Int, rank: Int, maxIter: Int,
                          nScore: Int, nSv: Int, accuracyFloor: Double) {
  def trains: Boolean = nTrain > 0
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("train_wide", nTrain = 2000, rank = 16, maxIter = 8, nScore = 1000, nSv = 0,
      accuracyFloor = 0.80),
    Workload("score_batch", nTrain = 0, rank = 0, maxIter = 0, nScore = 128, nSv = 70000,
      accuracyFloor = 0.70))
}

/** Runs one workload through the reference's two binaries, re-expressed on
  * the public `graft.ml` API:
  *   svm_train:   LibSvmIO.read → IcfSvmTrainer.fit → IcfSvmModel.saveText
  *   svm_predict: LibSvmIO.read → IcfSvmModel.loadText → predict → collect
  * and prints one JSON line with the metrics (see README.md).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *          [--trace-out FILE]   (traced runs: spans and jobs as JSON)
  */
object Main {
  val Gamma = 1.0 / Gen.Dim
  val C = 1.0
  val Tol = 1e-3
  val TrainParts = 4
  val ModelParts = 4
  val ExactSample = 16
  val Setups = 3
  val WarmUpCycles = 2

  final case class Opts(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        work: File, traceOut: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workload.all.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), m.get("trace-out").map(new File(_)))
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The generated files of one seed. */
  final class Inputs(val dir: File, w: Workload, seed: Long) {
    val train = new File(dir, "train")
    val score = new File(dir, "score")
    val model = new File(dir, "model")
    val svModel: Option[Gen.SvModel] =
      if (w.trains) None else Some(Gen.svModel(seed, w.nSv, Gamma))
    val trainBytes: Long =
      if (w.trains) Gen.writeLibSvm(train, seed, Gen.TrainStream, w.nTrain, TrainParts) else 0L
    // held-out rows are split like the training rows; a test batch is one file
    val scoreBytes: Long =
      if (w.trains) Gen.writeLibSvm(score, seed, Gen.HeldoutStream, w.nScore, TrainParts)
      else Gen.writeLibSvm(score, seed, Gen.TestStream, w.nScore, 1)
    svModel.foreach(Gen.writeModel(model, _, ModelParts))
  }

  /** What one operation produced, and what its checks found wrong. */
  final case class Outcome(op: String, seconds: Double, failures: Seq[String],
                           nSv: Long = 0, accuracy: Double = Double.NaN, rows: Long = 0)

  def timed(body: => Seq[String]): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val failures =
      try body
      catch { case e: Throwable => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    ((System.nanoTime() - t0) / 1e9, failures)
  }

  def readRows(spark: SparkSession, path: File): DataFrame =
    LibSvmIO.read(spark, path.getPath).withColumn("id", monotonically_increasing_id())

  /** svm_train: read, fit, save. Checks 0 < nSV ≤ n. */
  def svmTrain(spark: SparkSession, tr: Tracer, w: Workload, in: Inputs): Outcome = {
    var nSv = 0L; var n = 0L
    val (s, failures) = timed {
      tr.span("svm_train") {
        val df = tr.span(Layers.Ingest) {
          val d = readRows(spark, in.train).persist(); n = d.count(); d
        }
        val model = tr.span(Layers.FitSpan) {
          IcfSvmTrainer.fit(df, "id", "features", "label", Kernel.Rbf(Gamma), w.rank,
            c = C, maxIter = w.maxIter, tol = Tol)
        }
        nSv = model.numSupportVectors
        tr.span(Layers.ModelIo) { model.saveText(spark, in.model.getPath) }
        model.unpersist()
        df.unpersist(true)
      }
      val bad = ArrayBuffer[String]()
      if (n != w.nTrain) bad += s"read $n training rows, wrote ${w.nTrain}"
      if (nSv <= 0 || nSv > n) bad += s"nSV $nSv outside (0, $n]"
      bad.toSeq
    }
    Outcome("svm_train", s, failures, nSv = nSv, rows = n)
  }

  /** svm_predict: read, load, predict, collect (id, decision) for every
    * row. Checks every row scored once, the accuracy floor, the
    * evaluator's accuracy, and (generated model) exact decisions. */
  def svmPredict(spark: SparkSession, tr: Tracer, w: Workload, in: Inputs): Outcome = {
    import spark.implicits._
    var scored = Array.empty[Row]
    var model: IcfSvmModel = null
    var evalAccuracy = Double.NaN
    val (s, failures) = timed {
      tr.span("svm_predict") {
        val df = tr.span(Layers.Ingest) {
          val d = readRows(spark, in.score).persist(); d.count(); d
        }
        model = tr.span(Layers.ModelIo) { IcfSvmModel.loadText(spark, in.model.getPath) }
        tr.span(Layers.Score) {
          scored = model.predict(df, "id", "features")
            .select(col("id"), col("label"), col("decision"), col("prediction"), col("features"))
            .collect()
          evalAccuracy = SvmEvaluator.evaluate(
              scored.map(r => (r.getDouble(1), r.getDouble(3))).toSeq.toDF("label", "prediction"),
              "label")
            .select("accuracy").head().getDouble(0)
        }
        df.unpersist(true)
      }
      Seq.empty
    }
    if (failures.nonEmpty) return Outcome("svm_predict", s, failures)
    val bad = ArrayBuffer[String]()
    val ids = scored.map(_.getLong(0))
    if (scored.length != w.nScore || ids.distinct.length != w.nScore)
      bad += s"${scored.length} scored rows (${ids.distinct.length} distinct ids), want ${w.nScore}"
    if (scored.exists(r => !java.lang.Double.isFinite(r.getDouble(2))))
      bad += "non-finite decision"
    val correct = scored.count(r => r.getDouble(1) == r.getDouble(3))
    val accuracy = correct.toDouble / math.max(1, scored.length)
    if (accuracy < w.accuracyFloor) bad += f"accuracy $accuracy%.4f below ${w.accuracyFloor}"
    if (math.abs(evalAccuracy - accuracy) > 1e-6)
      bad += s"SvmEvaluator accuracy $evalAccuracy, counted $accuracy"
    in.svModel.foreach { m =>
      if (model.numSupportVectors != m.sv.length)
        bad += s"loaded ${model.numSupportVectors} SVs, wrote ${m.sv.length}"
      scored.sortBy(_.getLong(0)).take(ExactSample).foreach { r =>
        val x = r.getAs[scala.collection.Seq[Double]](4).toArray
        val (want, mag) = m.decision(x)
        val got = r.getDouble(2)
        if (math.abs(got - want) > 1e-9 * mag)
          bad += s"row ${r.getLong(0)}: decision $got, plain Scala $want"
      }
    }
    Outcome("svm_predict", s, bad.toSeq, nSv = model.numSupportVectors, accuracy = accuracy,
      rows = scored.length)
  }

  /** One cycle: svm_train then svm_predict (score_batch: svm_predict). */
  def cycle(spark: SparkSession, tr: Tracer, w: Workload, in: Inputs): Seq[Outcome] =
    if (!w.trains) Seq(svmPredict(spark, tr, w, in))
    else {
      val t = svmTrain(spark, tr, w, in)
      if (t.failures.nonEmpty) Seq(t, Outcome("svm_predict", 0.0, Seq("not run: svm_train failed")))
      else Seq(t, svmPredict(spark, tr, w, in))
    }

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def at(q: Double): Double = {
      if (s.isEmpty) return Double.NaN
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
    (at(0.25), at(0.5), at(0.75))
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = o.workload
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val log = System.err

    // ---- set-up, three times: a Spark session, the inputs from the seed,
    // and one job of the workload's own inputs (reading back each LIBSVM
    // input). The first set-up also pays JVM start. A warm-up cycle per
    // set-up does not fit a run (every fit pays ~100 Spark jobs of fixed
    // cost), so class loading, code generation and JIT are paid by
    // WarmUpCycles untimed cycles after the set-ups, reported as warmup_s.
    // (With one, the timed cycles still got faster one after another.)
    var spark: SparkSession = null
    var in: Inputs = null
    val setupS = ArrayBuffer[Double]()
    for (k <- 0 until Setups) {
      val t0 = if (k == 0) jvmStartMs.toDouble else System.currentTimeMillis().toDouble
      if (spark != null) spark.stop()
      spark = session(o.work)
      val data = new File(o.work, "data")
      deleteTree(data)
      in = new Inputs(data, w, o.seed)
      (if (w.trains) Seq(in.train, in.score) else Seq(in.score))
        .foreach(f => LibSvmIO.read(spark, f.getPath).count())
      setupS += (System.currentTimeMillis() - t0) / 1e3
      log.println(f"setup ${k + 1}/$Setups: ${setupS.last}%.3f s")
    }
    val tr = new Tracer(spark.sparkContext)
    val warmT0 = System.nanoTime()
    val warmRes = (1 to WarmUpCycles).flatMap(_ => cycle(spark, tr, w, in))
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val warmFailures = warmRes.flatMap(_.failures)
    log.println(f"warm-up: $warmupS%.3f s (" +
      warmRes.map(r => f"${r.op} ${r.seconds}%.3f s").mkString(", ") + ")")
    if (o.trace) spark.sparkContext.addSparkListener(tr)

    // ---- timed cycles: at least 3 (traced runs: 4, every other one
    // traced) and until `seconds` have passed. Each cycle logs the CPU
    // steal during it: on a shared host the hypervisor takes CPU time in
    // bursts, which slow these latency-bound cycles.
    val minCycles = if (o.trace) 4 else 3
    val cycleS = ArrayBuffer[Double]()
    val tracedCycleS = ArrayBuffer[Double]()
    val outcomes = ArrayBuffer[Outcome]()
    val layers = new LayerTotals(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCycles || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      System.gc()
      val traced = o.trace && i % 2 == 1
      tr.enabled = traced
      val steal0 = Steal.read()
      val res = cycle(spark, tr, w, in)
      val steal = Steal.share(steal0, Steal.read())
      tr.enabled = false
      val total = res.map(_.seconds).sum
      if (traced) {
        tracedCycleS += total
        tr.drain()
        layers.add(tr, res, w, in)
        tr.clear()
      } else cycleS += total
      outcomes ++= res
      log.println(f"cycle ${i + 1}: $total%.3f s, steal ${100 * steal}%.1f%% (" +
        res.map(r => f"${r.op} ${r.seconds}%.3f s").mkString(", ") + ")")
      res.flatMap(_.failures).foreach(f => log.println(s"FAILED: $f"))
      i += 1
    }
    spark.stop()

    val attempted = outcomes.length
    val failed = outcomes.count(_.failures.nonEmpty)
    val correct = failed == 0 && warmFailures.isEmpty
    warmFailures.foreach(f => log.println(s"FAILED (warm-up): $f"))

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      val predicts = outcomes.filter(_.op == "svm_predict")
      metrics("setup_s") = (median(setupS.toSeq), "s")
      metrics("cycle_s") = (median(cycleS.toSeq), "s")
      metrics("predict_s") = (median(predicts.map(_.seconds).toSeq), "s")
      metrics("heldout_accuracy") = (median(predicts.map(_.accuracy).toSeq), "fraction")
      metrics("ok_ratio") = (1.0 - failed.toDouble / attempted, "fraction")
      if (w.trains) {
        val trains = outcomes.filter(_.op == "svm_train").map(_.seconds)
        val (q1, m, q3) = quartiles(trains.toSeq)
        println(f"train_s median $m%.4f s (q1 $q1%.4f, q3 $q3%.4f, n ${trains.length})")
      }
      Seq("cycle_s" -> cycleS.toSeq, "predict_s" -> predicts.map(_.seconds).toSeq,
          "setup_s" -> setupS.toSeq).foreach { case (name, xs) =>
        val (q1, m, q3) = quartiles(xs)
        println(f"$name median $m%.4f s (q1 $q1%.4f, q3 $q3%.4f, n ${xs.length})")
      }
      println(f"warmup_s $warmupS%.4f s ($WarmUpCycles untimed cycles after the set-ups)")
    } else {
      layers.metrics().foreach { case (k, v) => metrics(k) = v }
      val traced = median(tracedCycleS.toSeq)
      val plain = median(cycleS.toSeq)
      metrics("trace.overhead_pct") = (100.0 * (traced - plain) / plain, "%")
      o.traceOut.foreach(layers.write)
    }
    metrics.foreach { case (k, (v, u)) => println(s"$k = ${jsonNum(v)} $u") }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Per-layer totals over the traced cycles, reported per cycle; the
  * cycles' spans and jobs are kept for `write`. */
final class LayerTotals(cores: Int) {
  private val cycles = ArrayBuffer[Map[String, Double]]()
  private val records = ArrayBuffer[String]()

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Writes every traced cycle's spans and jobs as one JSON document. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(records.mkString("{\"cycles\": [\n", ",\n", "\n]}\n")) finally w.close()
  }

  def add(tr: Tracer, res: Seq[Main.Outcome], w: Workload, in: Main.Inputs): Unit = {
    val jobs = tr.jobs
    val segs = SelfTime.segments(tr.spans.toSeq, jobs)
    val wall = tr.spans.filter(_.parent == 0).map(s => s.end - s.start).sum / 1e3
    val spanJson = tr.spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.start}, "end_ms": ${s.end}}"""
    }
    val jobJson = jobs.map { j =>
      s"""{"id": ${j.id}, "span": ${j.span}, "layer": ${str(j.layer)}, "site": ${str(j.site)}, """ +
        s""""start_ms": ${j.start}, "end_ms": ${Main.jsonNum(j.end)}, "tasks": ${j.tasks}, """ +
        s""""busy_ms": ${j.busyMs}}"""
    }
    records += s"""{"spans": [${spanJson.mkString(", ")}], "jobs": [${jobJson.mkString(", ")}]}"""
    val m = mutable.Map[String, Double]()
    for (l <- Layers.All) {
      val lSegs = segs.collect { case (`l`, iv) => iv }
      val lJobs = jobs.filter(_.layer == l)
      val lWall = SelfTime.length(lSegs) / 1e3
      val inJobs = SelfTime.length(SelfTime.intersect(lSegs,
        lJobs.filter(!_.end.isNaN).map(j => (j.start, j.end)))) / 1e3
      val busy = lJobs.map(_.busyMs).sum / 1e3
      m(s"$l.wall_s") = lWall
      m(s"$l.jobs") = lJobs.length
      m(s"$l.tasks") = lJobs.map(_.tasks).sum
      m(s"$l.busy_s") = busy
      m(s"$l.cpu_s") = lJobs.map(_.cpuNs).sum / 1e9
      m(s"$l.gc_s") = lJobs.map(_.gcMs).sum / 1e3
      m(s"$l.driver_s") = lWall - inJobs
      m(s"$l.slot_util") = if (lWall > 0) busy / (lWall * cores) else 0.0
      m(s"$l.shuffle_mb") = lJobs.map(_.shuffleBytes).sum / 1e6
      m(s"$l.spill_mb") = lJobs.map(_.spillBytes).sum / 1e6
      m(s"$l.result_mb") = lJobs.map(_.resultBytes).sum / 1e6
      m(s"$l.failed_tasks") = lJobs.map(_.failedTasks).sum
    }
    def siteCount(l: String, prefix: String) =
      jobs.count(j => j.layer == l && j.site.startsWith(prefix)).toDouble
    val predict = res.last
    m("icf.passes") = siteCount(Layers.Icf, "reduce at Icf.scala")
    m("ipm.iterations") = siteCount(Layers.Ipm, "reduce at Ipm.scala")
    m("trainer.n_sv") = if (w.trains) res.head.nSv else 0
    m("score.pairs") = predict.rows.toDouble * predict.nSv
    m("score.pairs_per_busy_s") =
      if (m("score.busy_s") > 0) m("score.pairs") / m("score.busy_s") else 0.0
    m("ingest.rows") = res.map(_.rows).sum.toDouble
    m("ingest.mb") = (in.trainBytes + in.scoreBytes) / 1e6
    m("cache.peak_mb") = tr.cachePeakBytes / 1e6
    m("trace.wall_s") = wall
    m("trace.layer_share") = Layers.All.map(l => m(s"$l.wall_s")).sum / math.max(wall, 1e-9)
    cycles += m.toMap
  }

  def metrics(): Seq[(String, (Double, String))] = {
    val keys = cycles.head.keys.toSeq
    def unit(k: String): String = k.split('.').last match {
      case "pairs_per_busy_s" => "1/s"
      case s if s.endsWith("_s") => "s"
      case s if s == "mb" || s.endsWith("_mb") => "MB"
      case "slot_util" | "layer_share" => "fraction"
      case _ => "count"
    }
    val order = Layers.All.flatMap(l => keys.filter(_.startsWith(l + ".")).sorted) ++
      keys.filterNot(k => Layers.All.exists(l => k.startsWith(l + "."))).sorted
    order.distinct.map { k =>
      k -> (cycles.map(_(k)).sum / cycles.length, unit(k))
    }
  }
}

/** The share of this machine's CPU time that the hypervisor took (the
  * "steal" column of /proc/stat) between two readings; 0 where the kernel
  * does not report it. */
object Steal {
  def read(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next() finally src.close()
      val v = cpu.trim.split("\\s+").slice(1, 9).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Exception => (0L, 0L) }

  def share(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}
