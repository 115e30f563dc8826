package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded inputs, written by the benchmark itself (never by the program's
  * own writers, so set-up time does not move with them).
  *
  * Rows are two-class Gaussian: x ~ N(0, I_64) shifted by ±0.6 on the
  * first 4 dims, label ±1 with equal odds. The class means are 2.4 apart,
  * so the Bayes accuracy is Φ(1.2) ≈ 0.885.
  *
  * Every row draws from its own `SplittableRandom`, seeded by a mix of
  * (seed, stream, row id), so a row does not depend on how many rows come
  * before it and neighbouring ids do not share draws. Values are rounded
  * to 6 decimals and printed with `Double.toString`, which parses back to
  * the same double: the program sees exactly the values generated here.
  */
object Gen {
  val Dim = 64
  val Shift = 0.6
  val ShiftedDims = 4

  // streams: one per kind of row, so train/held-out/test/SV rows of one
  // seed are independent of each other
  val TrainStream = 1L
  val HeldoutStream = 2L
  val TestStream = 3L
  val SvStream = 4L

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rowRandom(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ id))

  final case class Row(label: Int, x: Array[Double])

  private def round6(v: Double): Double = math.rint(v * 1e6) / 1e6

  def row(seed: Long, stream: Long, id: Long): Row = {
    val r = rowRandom(seed, stream, id)
    val y = if (r.nextBoolean()) 1 else -1
    val x = new Array[Double](Dim)
    var k = 0
    while (k < Dim) {
      // Box–Muller, both outputs used: the draw sequence is fixed by this
      // code, not by the JDK's nextGaussian
      val u1 = 1.0 - r.nextDouble()
      val u2 = r.nextDouble()
      val rad = math.sqrt(-2.0 * math.log(u1))
      x(k) = rad * math.cos(2 * math.Pi * u2)
      if (k + 1 < Dim) x(k + 1) = rad * math.sin(2 * math.Pi * u2)
      k += 2
    }
    k = 0
    while (k < Dim) {
      x(k) = round6(x(k) + (if (k < ShiftedDims) Shift * y else 0.0))
      k += 1
    }
    Row(y, x)
  }

  private def appendFeatures(sb: java.lang.StringBuilder, x: Array[Double]): Unit = {
    var k = 0
    while (k < x.length) {
      sb.append(' ').append(k + 1).append(':').append(x(k))
      k += 1
    }
  }

  def libsvmLine(r: Row): String = {
    val sb = new java.lang.StringBuilder(Dim * 12)
    sb.append(r.label)
    appendFeatures(sb, r.x)
    sb.toString
  }

  private def writeLines(file: File, lines: Iterator[String]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.US_ASCII), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    file.length()
  }

  /** Writes rows [0, n) of `stream` as LIBSVM text into `dir`, split into
    * `parts` contiguous part files. Returns the bytes written. */
  def writeLibSvm(dir: File, seed: Long, stream: Long, n: Int, parts: Int): Long = {
    val per = (n + parts - 1) / parts
    (0 until parts).map { p =>
      val lo = p * per
      val hi = math.min(n, lo + per)
      writeLines(new File(dir, f"part-$p%05d"),
        Iterator.range(lo, hi).map(i => libsvmLine(row(seed, stream, i.toLong))))
    }.sum
  }

  /** A psvm text model (the layout `IcfSvmModel.loadText` reads: a
    * `header` part and sharded `sv` parts, `<coef> 1:<x1> …` per SV).
    * The SVs are rows of the same two classes with coef = y·α,
    * α ~ U(0, 1]: a Parzen-window classifier, so its accuracy on test
    * rows of the same distribution is a real check of scoring. */
  final case class SvModel(gamma: Double, rho: Double, coef: Array[Double],
                           sv: Array[Array[Double]]) {
    /** Plain-Scala decision Σ coefᵢ·exp(−γ‖svᵢ−x‖²) − rho, and the
      * magnitude Σ|termᵢ| + |rho| its rounding error scales with. */
    def decision(x: Array[Double]): (Double, Double) = {
      var s = 0.0; var mag = 0.0; var i = 0
      while (i < sv.length) {
        val v = sv(i); var d2 = 0.0; var k = 0
        while (k < v.length) { val d = v(k) - x(k); d2 += d * d; k += 1 }
        val t = coef(i) * math.exp(-gamma * d2)
        s += t; mag += math.abs(t)
        i += 1
      }
      (s - rho, mag + math.abs(rho))
    }
  }

  def svModel(seed: Long, nSv: Int, gamma: Double): SvModel = {
    val coef = new Array[Double](nSv)
    val sv = new Array[Array[Double]](nSv)
    var i = 0
    while (i < nSv) {
      val r = row(seed, SvStream, i.toLong)
      val alpha = round6(1.0 - rowRandom(seed, SvStream + 100, i.toLong).nextDouble())
      coef(i) = if (r.label > 0) alpha else -alpha
      sv(i) = r.x
      i += 1
    }
    // a small nonzero rho, so the bias sign is part of the decision check
    SvModel(gamma, 0.05, coef, sv)
  }

  /** Writes `m` in psvm text form under `dir`. Returns the bytes written. */
  def writeModel(dir: File, m: SvModel, parts: Int): Long = {
    val header = Seq(
      "svm_type c_svc", "kernel_type rbf", s"gamma ${m.gamma}", "coef0 0.0",
      "degree 0", s"total_sv ${m.sv.length}", s"dim $Dim", s"rho ${m.rho}", "SV")
    val hb = writeLines(new File(dir, "header/part-00000"), header.iterator)
    val n = m.sv.length
    val per = (n + parts - 1) / parts
    hb + (0 until parts).map { p =>
      val lo = p * per
      val hi = math.min(n, lo + per)
      writeLines(new File(dir, f"sv/part-$p%05d"), Iterator.range(lo, hi).map { i =>
        val sb = new java.lang.StringBuilder(Dim * 12)
        sb.append(m.coef(i))
        appendFeatures(sb, m.sv(i))
        sb.toString
      })
    }.sum
  }
}
