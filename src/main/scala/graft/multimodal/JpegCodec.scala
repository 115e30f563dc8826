package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P65 (mm10): BASELINE JPEG codec — the second entropy-coded
  * image format next to mm9's PNG, and the one production image
  * corpora actually dominate. A complete baseline JFIF stream is
  * assembled by hand (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, Annex-K standard
  * quantization + Huffman tables, forward DCT, zigzag, DC difference
  * coding, run/size AC coding, 0xFF byte stuffing) and decoded by hand
  * (marker walk, canonical Huffman receive/extend, dequant, and a
  * FAITHFUL replication of libjpeg's `jidctint` fixed-point IDCT —
  * CONST_BITS=13 Loeffler with both zero-column and zero-row
  * shortcuts and wrapping 32-bit arithmetic — because byte-exact
  * agreement with the JDK's bundled IJG decoder is the correctness
  * witness for arbitrary content, not just the fixture).
  *
  * Certification, the mm9 triple:
  *   1. in-query: hand decode must byte-agree with `javax.imageio`'s
  *      independent reader on every payload (raster samples read raw —
  *      never through getRGB's color management);
  *   2. hash gate: fixture rasters are CONSTANT 8×8 blocks at even
  *      offsets from 128, for which the quantizer round-trips exactly
  *      (DC = 8·(v−128), q₀₀ = 16, and v−128 even ⇒ quantized DC
  *      reconstructs bit-perfectly; a DC-only block IDCTs flat), so
  *      the DuckDB oracle regenerates the DECODED raster from the
  *      md5-chain generation rule — lossy format, lossless fixture;
  *   3. spec: random-content images (real AC coefficients through the
  *      full forward DCT) decode byte-identically to imageio, and
  *      corrupted streams (truncation, marker damage, bad Huffman
  *      prefix) are rejected loudly.
  *
  * Scale shape: generation and decode are ONE narrow mapPartitions
  * pass each — zero shuffle, ingest-rate row-local, the mm7 class.
  */
object JpegCodec {

  val W = 16
  val H = 16
  val BlocksX: Int = W / 8
  val BlocksY: Int = H / 8
  val RasterBytes: Int = W * H

  // ---- Annex K tables (public standard) ----

  /** Quantization entries AS WRITTEN TO THE DQT SEGMENT — i.e. in the
    * stream's zigzag slot order (both codecs and imageio read them that
    * way, so encoder, hand decoder, and the independent decoder all
    * quantize identically; the fixture's exact-roundtrip math only
    * needs the DC slot, zigzag 0 = 16). Values are Annex K's. */
  private[multimodal] val QuantLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private[multimodal] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  private val DcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = (0 to 11).toArray
  private val AcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical Huffman: code/length per symbol (encode side). */
  private def buildCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = scala.collection.mutable.Map[Int, (Int, Int)]()
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len)) { out(vals(k)) = (code, len); code += 1; k += 1; i += 1 }
      code <<= 1
    }
    out.toMap
  }
  private val DcCodes = buildCodes(DcBits, DcVals)
  private val AcCodes = buildCodes(AcBits, AcVals)

  // ---- bit IO ----

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          buf.write(acc)
          if (acc == 0xff) buf.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Array[Byte] = {
      while (nbits != 0) put(1, 1) // pad with 1s
      buf.toByteArray
    }
  }

  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        require(pos < data.length, "jpeg: entropy stream truncated")
        val b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length && data(pos) == 0,
            "jpeg: unexpected marker inside entropy stream")
          pos += 1
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Decode-side Huffman via first-code tables (canonical). */
  private final class HuffDecoder(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        if (bits(len) > 0) {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len); k += bits(len)
          maxCode(len) = code - 1
        } else maxCode(len) = -1
        code <<= 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = in.bit()
      var len = 1
      while (len <= 16 && (maxCode(len) < 0 || code > maxCode(len))) {
        code = (code << 1) | in.bit()
        len += 1
      }
      require(len <= 16, "jpeg: invalid Huffman prefix")
      vals(valPtr(len) + code - minCode(len))
    }
  }

  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  // ---- forward DCT (encoder side: double precision, round-half-away) ----

  private def fdct(block: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) {
          var y = 0
          while (y < 8) {
            s += block(y * 8 + x) *
              math.cos((2 * x + 1) * u * math.Pi / 16) *
              math.cos((2 * y + 1) * v * math.Pi / 16)
            y += 1
          }
          x += 1
        }
        val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
        out(v * 8 + u) = math.round(0.25 * cu * cv * s).toInt
        v += 1
      }
      u += 1
    }
    out
  }

  // ---- libjpeg jidctint replication (fixed-point Loeffler, 32-bit wrap) ----

  private val ConstBits = 13
  private val Pass1Bits = 2
  private val F_0_298631336 = 2446
  private val F_0_390180644 = 3196
  private val F_0_541196100 = 4433
  private val F_0_765366865 = 6270
  private val F_0_899976223 = 7373
  private val F_1_175875602 = 9633
  private val F_1_501321110 = 12299
  private val F_1_847759065 = 15137
  private val F_1_961570560 = 16069
  private val F_2_053119869 = 16819
  private val F_2_562915447 = 20995
  private val F_3_072711026 = 25172

  private def descale(x: Int, n: Int): Int = (x + (1 << (n - 1))) >> n

  /** One 8×8 block: dequantized coefficients (natural order) → samples
    * (0..255), replicating jidctint's two passes incl. both zero-AC
    * shortcuts and the final +128 clamp. */
  private[multimodal] def idctBlock(coef: Array[Int]): Array[Int] = {
    val ws = new Array[Int](64)
    // pass 1: columns
    var c = 0
    while (c < 8) {
      if (coef(8 + c) == 0 && coef(16 + c) == 0 && coef(24 + c) == 0 &&
          coef(32 + c) == 0 && coef(40 + c) == 0 && coef(48 + c) == 0 &&
          coef(56 + c) == 0) {
        val dcval = coef(c) << Pass1Bits
        var r = 0
        while (r < 8) { ws(r * 8 + c) = dcval; r += 1 }
      } else {
        val z2 = coef(16 + c); val z3 = coef(48 + c)
        var z1 = (z2 + z3) * F_0_541196100
        val tmp2 = z1 + z3 * (-F_1_847759065)
        val tmp3 = z1 + z2 * F_0_765366865
        val z2b = coef(c); val z3b = coef(32 + c)
        var tmp0 = (z2b + z3b) << ConstBits
        var tmp1 = (z2b - z3b) << ConstBits
        val tmp10 = tmp0 + tmp3; val tmp13 = tmp0 - tmp3
        val tmp11 = tmp1 + tmp2; val tmp12 = tmp1 - tmp2
        tmp0 = coef(56 + c); tmp1 = coef(40 + c)
        var t2 = coef(24 + c); var t3 = coef(8 + c)
        z1 = tmp0 + t3; var z2c = tmp1 + t2
        var z3c = tmp0 + t2; var z4 = tmp1 + t3
        val z5 = (z3c + z4) * F_1_175875602
        tmp0 = tmp0 * F_0_298631336
        tmp1 = tmp1 * F_2_053119869
        t2 = t2 * F_3_072711026
        t3 = t3 * F_1_501321110
        z1 = z1 * (-F_0_899976223)
        z2c = z2c * (-F_2_562915447)
        z3c = z3c * (-F_1_961570560)
        z4 = z4 * (-F_0_390180644)
        z3c += z5; z4 += z5
        tmp0 += z1 + z3c
        tmp1 += z2c + z4
        t2 += z2c + z3c
        t3 += z1 + z4
        ws(c) = descale(tmp10 + t3, ConstBits - Pass1Bits)
        ws(56 + c) = descale(tmp10 - t3, ConstBits - Pass1Bits)
        ws(8 + c) = descale(tmp11 + t2, ConstBits - Pass1Bits)
        ws(48 + c) = descale(tmp11 - t2, ConstBits - Pass1Bits)
        ws(16 + c) = descale(tmp12 + tmp1, ConstBits - Pass1Bits)
        ws(40 + c) = descale(tmp12 - tmp1, ConstBits - Pass1Bits)
        ws(24 + c) = descale(tmp13 + tmp0, ConstBits - Pass1Bits)
        ws(32 + c) = descale(tmp13 - tmp0, ConstBits - Pass1Bits)
      }
      c += 1
    }
    // pass 2: rows
    val out = new Array[Int](64)
    def clamp(x: Int): Int = math.max(0, math.min(255, x + 128))
    var r = 0
    while (r < 8) {
      val o = r * 8
      if (ws(o + 1) == 0 && ws(o + 2) == 0 && ws(o + 3) == 0 && ws(o + 4) == 0 &&
          ws(o + 5) == 0 && ws(o + 6) == 0 && ws(o + 7) == 0) {
        val dcval = clamp(descale(ws(o), Pass1Bits + 3))
        var i = 0
        while (i < 8) { out(o + i) = dcval; i += 1 }
      } else {
        val z2 = ws(o + 2); val z3 = ws(o + 6)
        var z1 = (z2 + z3) * F_0_541196100
        val tmp2 = z1 + z3 * (-F_1_847759065)
        val tmp3 = z1 + z2 * F_0_765366865
        var tmp0 = (ws(o) + ws(o + 4)) << ConstBits
        var tmp1 = (ws(o) - ws(o + 4)) << ConstBits
        val tmp10 = tmp0 + tmp3; val tmp13 = tmp0 - tmp3
        val tmp11 = tmp1 + tmp2; val tmp12 = tmp1 - tmp2
        tmp0 = ws(o + 7); tmp1 = ws(o + 5)
        var t2 = ws(o + 3); var t3 = ws(o + 1)
        z1 = tmp0 + t3; var z2c = tmp1 + t2
        var z3c = tmp0 + t2; var z4 = tmp1 + t3
        val z5 = (z3c + z4) * F_1_175875602
        tmp0 = tmp0 * F_0_298631336
        tmp1 = tmp1 * F_2_053119869
        t2 = t2 * F_3_072711026
        t3 = t3 * F_1_501321110
        z1 = z1 * (-F_0_899976223)
        z2c = z2c * (-F_2_562915447)
        z3c = z3c * (-F_1_961570560)
        z4 = z4 * (-F_0_390180644)
        z3c += z5; z4 += z5
        tmp0 += z1 + z3c
        tmp1 += z2c + z4
        t2 += z2c + z3c
        t3 += z1 + z4
        out(o) = clamp(descale(tmp10 + t3, ConstBits + Pass1Bits + 3))
        out(o + 7) = clamp(descale(tmp10 - t3, ConstBits + Pass1Bits + 3))
        out(o + 1) = clamp(descale(tmp11 + t2, ConstBits + Pass1Bits + 3))
        out(o + 6) = clamp(descale(tmp11 - t2, ConstBits + Pass1Bits + 3))
        out(o + 2) = clamp(descale(tmp12 + tmp1, ConstBits + Pass1Bits + 3))
        out(o + 5) = clamp(descale(tmp12 - tmp1, ConstBits + Pass1Bits + 3))
        out(o + 3) = clamp(descale(tmp13 + tmp0, ConstBits + Pass1Bits + 3))
        out(o + 4) = clamp(descale(tmp13 - tmp0, ConstBits + Pass1Bits + 3))
      }
      r += 1
    }
    out
  }

  // ---- encoder ----

  private def u16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    Array(0xff.toByte, marker.toByte) ++ u16(payload.length + 2) ++ payload

  /** Encode a W×H grayscale raster as a complete baseline JFIF JPEG. */
  private[multimodal] def encodeJpeg(raster: Array[Byte]): Array[Byte] = {
    require(raster.length == RasterBytes, s"raster must be $RasterBytes bytes")
    val bw = new BitWriter
    var prevDc = 0
    var by = 0
    while (by < BlocksY) {
      var bx = 0
      while (bx < BlocksX) {
        // level-shifted block
        val block = new Array[Int](64)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            block(y * 8 + x) = (raster((by * 8 + y) * W + bx * 8 + x) & 0xff) - 128
            x += 1
          }
          y += 1
        }
        val f = fdct(block)
        val q = new Array[Int](64)
        var i = 0
        while (i < 64) {
          val z = ZigZag(i)
          val c = f(z).toDouble / QuantLum(i) // quant table stored zigzag-wise
          q(i) = math.round(c).toInt
          i += 1
        }
        // DC
        val diff = q(0) - prevDc
        prevDc = q(0)
        val dn = category(diff)
        val (dc, dl) = DcCodes(dn)
        bw.put(dc, dl)
        if (dn > 0) bw.put(if (diff < 0) diff + (1 << dn) - 1 else diff, dn)
        // AC with run/size + ZRL + EOB
        var run = 0
        var k = 1
        while (k < 64) {
          if (q(k) == 0) run += 1
          else {
            while (run > 15) { val (zc, zl) = AcCodes(0xf0); bw.put(zc, zl); run -= 16 }
            val an = category(q(k))
            val (ac, al) = AcCodes((run << 4) | an)
            bw.put(ac, al)
            bw.put(if (q(k) < 0) q(k) + (1 << an) - 1 else q(k), an)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (ec, el) = AcCodes(0x00); bw.put(ec, el) }
        bx += 1
      }
      by += 1
    }
    val entropy = bw.flush()
    val app0 = "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val dqt = Array(0x00.toByte) ++ QuantLum.map(_.toByte) // table 0, 8-bit, zigzag order
    val sof = Array(8.toByte) ++ u16(H) ++ u16(W) ++
      Array(1.toByte, 1.toByte, 0x11.toByte, 0.toByte)
    val dht = Array(0x00.toByte) ++ DcBits.drop(1).map(_.toByte) ++ DcVals.map(_.toByte) ++
      Array(0x10.toByte) ++ AcBits.drop(1).map(_.toByte) ++ AcVals.map(_.toByte)
    val sos = Array(1.toByte, 1.toByte, 0x00.toByte, 0.toByte, 63.toByte, 0.toByte)
    Array(0xff.toByte, 0xd8.toByte) ++ // SOI
      seg(0xe0, app0) ++ seg(0xdb, dqt) ++ seg(0xc0, sof) ++
      seg(0xc4, dht) ++ seg(0xda, sos) ++ entropy ++
      Array(0xff.toByte, 0xd9.toByte) // EOI
  }

  // ---- decoder ----

  /** Hand decode: marker walk (tables read from the STREAM, not assumed),
    * Huffman entropy decode, dequant, jidctint. Throws loudly on any
    * corruption. Only the baseline-grayscale subset this encoder emits
    * is accepted; anything else is rejected, never mis-decoded. */
  private[multimodal] def decodeJpeg(payload: Array[Byte]): Array[Byte] = {
    require(payload.length >= 4 &&
      (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8, "jpeg: bad SOI")
    var pos = 2
    var quant: Array[Int] = null
    var dcDec: HuffDecoder = null
    var acDec: HuffDecoder = null
    var w = 0; var h = 0
    var sosAt = -1
    while (sosAt < 0) {
      require(pos + 4 <= payload.length, "jpeg: truncated marker segment")
      require((payload(pos) & 0xff) == 0xff, "jpeg: marker expected")
      val m = payload(pos + 1) & 0xff
      val len = ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
      require(pos + 2 + len <= payload.length, "jpeg: truncated segment body")
      val body = java.util.Arrays.copyOfRange(payload, pos + 4, pos + 2 + len)
      m match {
        case 0xdb =>
          require((body(0) & 0xf0) == 0, "jpeg: only 8-bit quant tables")
          quant = body.drop(1).map(_ & 0xff)
          require(quant.length == 64, "jpeg: bad DQT length")
        case 0xc0 =>
          require(body(0) == 8, "jpeg: only 8-bit precision")
          h = ((body(1) & 0xff) << 8) | (body(2) & 0xff)
          w = ((body(3) & 0xff) << 8) | (body(4) & 0xff)
          require(body(5) == 1, "jpeg: only single-component (grayscale)")
          require(body(7) == 0x11, "jpeg: only 1x1 sampling")
        case 0xc4 =>
          var o = 0
          while (o < body.length) {
            val tc = (body(o) & 0xf0) >> 4
            val bits = Array(0) ++ (1 to 16).map(i => body(o + i) & 0xff)
            val nv = bits.sum
            val vals = (0 until nv).map(i => body(o + 17 + i) & 0xff).toArray
            if (tc == 0) dcDec = new HuffDecoder(bits, vals)
            else acDec = new HuffDecoder(bits, vals)
            o += 17 + nv
          }
        case 0xda => sosAt = pos + 2 + len
        case 0xc2 | 0xc1 | 0xc3 =>
          throw new IllegalArgumentException("jpeg: only baseline SOF0 supported")
        case _ => () // APP0 etc.
      }
      pos += 2 + len
    }
    require(quant != null && dcDec != null && acDec != null && w > 0 && h > 0,
      "jpeg: missing tables before SOS")
    require(w == W && h == H, s"jpeg: unexpected dimensions ${w}x$h")
    val in = new BitReader(payload, sosAt)
    val raster = new Array[Byte](RasterBytes)
    var prevDc = 0
    var by = 0
    while (by < BlocksY) {
      var bx = 0
      while (bx < BlocksX) {
        val zq = new Array[Int](64)
        val dn = dcDec.decode(in)
        require(dn <= 11, "jpeg: bad DC category")
        prevDc += extend(in.receive(dn), dn)
        zq(0) = prevDc
        var k = 1
        while (k < 64) {
          val rs = acDec.decode(in)
          val run = rs >> 4; val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) k += 16 // ZRL
            else k = 64 // EOB
          } else {
            k += run
            require(k < 64, "jpeg: AC run past block end")
            zq(k) = extend(in.receive(size), size)
            k += 1
          }
        }
        // dequant + de-zigzag to natural order
        val coef = new Array[Int](64)
        var i = 0
        while (i < 64) { coef(ZigZag(i)) = zq(i) * quant(i); i += 1 }
        val px = idctBlock(coef)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            raster((by * 8 + y) * W + bx * 8 + x) = px(y * 8 + x).toByte
            x += 1
          }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    raster
  }

  /** Independent decode via the JDK's bundled IJG reader — RAW samples
    * (never getRGB: gray→sRGB color management would shift values). */
  private[multimodal] def decodeWithImageIO(payload: Array[Byte]): Array[Byte] = {
    MultimodalOps.imageIoNoCache // memory-backed ImageIO streams (no per-image temp file)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "imageio: payload is not a decodable image")
    require(img.getWidth == W && img.getHeight == H, "imageio: wrong dimensions")
    val out = new Array[Byte](RasterBytes)
    val r = img.getRaster
    var k = 0; var y = 0
    while (y < H) {
      var x = 0
      while (x < W) { out(k) = r.getSample(x, y, 0).toByte; k += 1; x += 1 }
      y += 1
    }
    out
  }

  /** Fixture rasters: constant 8×8 blocks at EVEN offsets from 128 —
    * the values the quantizer round-trips exactly. Block (by,bx) value
    * = byte 2·(by·BlocksX+bx) of md5(text‖'j0'), masked even. */
  private[multimodal] def jpegBlockHex(text: Column): Column =
    md5(concat(text, lit("j0")))

  private[multimodal] def constantRaster(blockBytes: Array[Int]): Array[Byte] = {
    val raster = new Array[Byte](RasterBytes)
    var by = 0
    while (by < BlocksY) {
      var bx = 0
      while (bx < BlocksX) {
        val v = blockBytes(by * BlocksX + bx) & 0xfe
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { raster((by * 8 + y) * W + bx * 8 + x) = v.toByte; x += 1 }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    raster
  }

  /** Deterministic JPEG table from documents. */
  def jpegFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id".as("media_id"), jpegBlockHex($"text").as("bh"))
      .as[(Long, String)]
      .mapPartitions(it => it.map { case (id, bh) =>
        val blocks = (0 until BlocksX * BlocksY)
          .map(i => Integer.parseInt(bh.substring(2 * i, 2 * i + 2), 16)).toArray
        (id, encodeJpeg(constantRaster(blocks)))
      })
      .toDF("media_id", "payload")
  }

  /** mm10: decode every JPEG through BOTH codecs, require byte
    * agreement, emit raster features — oracle-checked against the
    * exact-roundtrip generation rule. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = jpegFromDocuments(spark, dir).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, payload) =>
        val raster = decodeJpeg(payload)
        val indep = decodeWithImageIO(payload)
        require(java.util.Arrays.equals(raster, indep),
          s"mm10: hand decode disagrees with imageio on media $id")
        var s = 0.0; var mn = 255; var mx = 0
        val hex = new StringBuilder(raster.length * 2)
        var i = 0
        while (i < raster.length) {
          val b = raster(i) & 0xff
          s += b / 255.0
          if (b < mn) mn = b
          if (b > mx) mx = b
          MultimodalOps.appendHex2(hex, b)
          i += 1
        }
        (id, raster.length, s / raster.length, mn, mx, hex.toString)
      }
    }.toDF("media_id", "n_px", "mean_raw", "mn", "mx", "px_hex")
      .select($"media_id", $"n_px".cast("long"),
        round($"mean_raw", 6).as("mean_px"),
        $"mn".cast("long").as("min_px"), $"mx".cast("long").as("max_px"),
        md5($"px_hex").as("px_md5"))
      .orderBy($"media_id")
  }

  /** DuckDB replay: regenerate each block's EXACT decode value (chain
    * byte masked even), rebuild the raster hex by repetition, recompute
    * every feature — a broken encoder, Huffman path, dequant, or IDCT
    * on either side hash-mismatches. */
  val oracleSql: String = {
    // block value b_i = byte i of md5(text||'j0') & 0xFE; raster row
    // layout: 8 rows of (b0 ×8, b1 ×8) then 8 rows of (b2 ×8, b3 ×8)
    s"""WITH b AS (
         SELECT doc_id AS media_id,
           [CAST(('0x' || substr(md5(text || 'j0'), 2 * i + 1, 2)) AS INT) // 2 * 2
            for i in range(0, ${BlocksX * BlocksY})] AS bv
         FROM documents),
       hx AS (
         SELECT media_id, bv,
           repeat(repeat(printf('%02x', bv[1]), 8) || repeat(printf('%02x', bv[2]), 8), 8)
             || repeat(repeat(printf('%02x', bv[3]), 8) || repeat(printf('%02x', bv[4]), 8), 8)
             AS px_hex
         FROM b)
       SELECT media_id,
         CAST($RasterBytes AS BIGINT) AS n_px,
         round(list_reduce(
           [CAST(('0x' || substr(px_hex, 2 * i + 1, 2)) AS INT) / 255.0
            for i in range(0, $RasterBytes)],
           (a, x) -> a + x) / $RasterBytes, 6) AS mean_px,
         CAST(least(bv[1], bv[2], bv[3], bv[4]) AS BIGINT) AS min_px,
         CAST(greatest(bv[1], bv[2], bv[3], bv[4]) AS BIGINT) AS max_px,
         md5(px_hex) AS px_md5
       FROM hx ORDER BY media_id"""
  }

  // mm10: lossy format, LOSSLESS fixture — constant even-offset blocks
  // round-trip the quantizer exactly, so the oracle regenerates the
  // decode; generality is the imageio byte-parity fuzz in the spec
  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm10_jpeg_decode", query, Some(oracleSql)))
}
