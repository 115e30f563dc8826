package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P66 (mm11): GIF decode — the THIRD entropy coding in the
  * multimodal family (mm9 PNG = DEFLATE/LZ77+Huffman, mm10 JPEG =
  * DCT+Huffman, mm11 GIF = LZW): a complete GIF87a stream is assembled
  * by hand (header, logical screen descriptor, 256-entry grayscale
  * global color table, image descriptor, GIF-variant LZW with
  * LSB-first variable-width codes, clear/EOI codes, width growth at
  * dictionary powers, 255-byte sub-block framing, trailer) and decoded
  * by hand — the full LZW dictionary rebuild including the KwKwK
  * (code-not-yet-in-dictionary) case, clear-code resets, and loud
  * rejection of malformed streams.
  *
  * GIF is LOSSLESS, so the mm9 triple applies unchanged:
  *   1. in-query: hand decode must byte-agree with `javax.imageio`'s
  *      independent GIF reader (raw palette indices via the raster —
  *      the identity-gray palette makes index = sample);
  *   2. hash gate: raster bytes are a chained md5 of the document
  *      text, so the DuckDB oracle regenerates the decode exactly;
  *   3. spec: truncation, bad signature, damaged sub-block framing,
  *      and out-of-range LZW codes are rejected loudly; a randomized
  *      roundtrip fuzz (incl. dictionary-overflow-sized inputs that
  *      force mid-stream clear codes) pins encoder ≡ decoder ≡ imageio.
  *
  * Scale shape: one narrow mapPartitions each way — zero shuffle, the
  * mm7/mm9/mm10 ingest-rate row-local class.
  */
object GifCodec {

  val W = 16
  val H = 8
  val RasterBytes: Int = W * H // 128 = 8 md5 blocks

  private val MinCodeSize = 8
  private val ClearCode = 256
  private val EoiCode = 257

  // ---- LSB-first bit IO over 255-byte sub-blocks ----

  private final class LzwWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nbits = 0
    def put(code: Int, width: Int): Unit = {
      acc |= code << nbits
      nbits += width
      while (nbits >= 8) { out.write(acc & 0xff); acc >>= 8; nbits -= 8 }
    }
    def finish(): Array[Byte] = {
      if (nbits > 0) out.write(acc & 0xff)
      val raw = out.toByteArray
      val framed = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < raw.length) {
        val n = math.min(255, raw.length - i)
        framed.write(n)
        framed.write(raw, i, n)
        i += n
      }
      framed.write(0) // block terminator
      framed.toByteArray
    }
  }

  /** GIF-variant LZW over byte symbols. Dictionary: 0..255 literals,
    * 256 clear, 257 EOI; codes grow from 9 bits at 512/1024/2048
    * entries; at 4096 a clear code resets (the no-deferred-clear
    * behavior every decoder accepts). */
  private[multimodal] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val w = new LzwWriter
    var width = MinCodeSize + 1
    var next = EoiCode + 1
    val dict = new java.util.HashMap[String, Int]()
    def codeOf(s: String): Int =
      if (s.length == 1) s.charAt(0).toInt else dict.get(s)
    w.put(ClearCode, width)
    var cur = ""
    var i = 0
    while (i < data.length) {
      val c = (data(i) & 0xff).toChar
      if (cur.isEmpty) cur = c.toString
      else {
        val ext = cur + c
        if (dict.containsKey(ext)) cur = ext
        else {
          w.put(codeOf(cur), width)
          dict.put(ext, next)
          next += 1
          // WIDTH TIMING (the classic off-by-one): the decoder appends
          // its matching entry one CODE LATER than this encoder (it
          // can't append on the first code after a clear), so its table
          // size when it picks the width for the next code is next−1 —
          // grow exactly when that reaches 2^width
          if (next - 1 == (1 << width) && width < 12) width += 1
          if (next == 4097) { // decoder table full: clear and restart
            w.put(ClearCode, width)
            dict.clear(); next = EoiCode + 1; width = MinCodeSize + 1
          }
          cur = c.toString
        }
      }
      i += 1
    }
    if (cur.nonEmpty) w.put(codeOf(cur), width)
    // the decoder appends an entry for the FINAL data code too (this
    // encoder has no matching put — there is no following byte), so its
    // table may cross a power boundary and widen before it reads EOI
    if (next == (1 << width) && width < 12) width += 1
    w.put(EoiCode, width)
    w.finish()
  }

  /** Full GIF-LZW decode of the framed sub-blocks. */
  private[multimodal] def lzwDecode(framed: Array[Byte], expect: Int): Array[Byte] = {
    // unframe
    val raw = new java.io.ByteArrayOutputStream()
    var p = 0
    var done = false
    while (!done) {
      require(p < framed.length, "gif: missing sub-block terminator")
      val n = framed(p) & 0xff
      p += 1
      if (n == 0) done = true
      else {
        require(p + n <= framed.length, "gif: truncated sub-block")
        raw.write(framed, p, n); p += n
      }
    }
    val data = raw.toByteArray
    var bitPos = 0
    def read(width: Int): Int = {
      var v = 0
      var i = 0
      while (i < width) {
        val byteAt = (bitPos + i) >> 3
        require(byteAt < data.length, "gif: LZW stream truncated")
        v |= (((data(byteAt) >> ((bitPos + i) & 7)) & 1) << i)
        i += 1
      }
      bitPos += width
      v
    }
    val out = new java.io.ByteArrayOutputStream()
    var width = MinCodeSize + 1
    val entries = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def reset(): Unit = {
      entries.clear()
      (0 to 255).foreach(b => entries += Array(b.toByte))
      entries += null // clear
      entries += null // eoi
      width = MinCodeSize + 1
    }
    reset()
    var prev: Array[Byte] = null
    var eoi = false
    while (!eoi) {
      val code = read(width)
      if (code == ClearCode) { reset(); prev = null }
      else if (code == EoiCode) eoi = true
      else {
        require(code <= entries.length, s"gif: LZW code $code out of range")
        val entry: Array[Byte] =
          if (code < entries.length) entries(code)
          else { // KwKwK: code == next entry to be defined
            require(prev != null, "gif: KwKwK with no previous entry")
            prev :+ prev(0)
          }
        require(entry != null, "gif: reference to a reserved code")
        out.write(entry, 0, entry.length)
        if (prev != null && entries.length < 4096)
          entries += (prev :+ entry(0))
        if (entries.length == (1 << width) && width < 12) width += 1
        prev = entry
      }
    }
    val bytes = out.toByteArray
    require(bytes.length == expect, s"gif: decoded ${bytes.length} of $expect pixels")
    bytes
  }

  // ---- container ----

  private def u16le(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Encode a W×H 8-bit raster as a complete GIF87a with an identity
    * grayscale palette (entry i = (i,i,i) — index IS the sample). */
  private[multimodal] def encodeGif(raster: Array[Byte]): Array[Byte] = {
    require(raster.length == RasterBytes, s"raster must be $RasterBytes bytes")
    val header = "GIF87a".getBytes("US-ASCII")
    // logical screen: global color table, 8 bits/px, table size 2^8
    val lsd = u16le(W) ++ u16le(H) ++ Array(0xf7.toByte, 0.toByte, 0.toByte)
    val palette = (0 to 255).flatMap(i =>
      Seq(i.toByte, i.toByte, i.toByte)).toArray
    val imgDesc = Array(0x2c.toByte) ++ u16le(0) ++ u16le(0) ++
      u16le(W) ++ u16le(H) ++ Array(0.toByte)
    header ++ lsd ++ palette ++ imgDesc ++
      Array(MinCodeSize.toByte) ++ lzwEncode(raster) ++ Array(0x3b.toByte)
  }

  /** Hand decode: signature, screen descriptor, palette (must be the
    * identity gray ramp), image descriptor, LZW. Loud on corruption. */
  private[multimodal] def decodeGif(payload: Array[Byte]): Array[Byte] = {
    require(payload.length > 13 &&
      new String(payload, 0, 6, "US-ASCII") == "GIF87a", "gif: bad signature")
    val w = (payload(6) & 0xff) | ((payload(7) & 0xff) << 8)
    val h = (payload(8) & 0xff) | ((payload(9) & 0xff) << 8)
    require(w == W && h == H, s"gif: unexpected dimensions ${w}x$h")
    val flags = payload(10) & 0xff
    require((flags & 0x80) != 0, "gif: missing global color table")
    val gctSize = 2 << (flags & 7)
    require(gctSize == 256, "gif: expected a 256-entry color table")
    var p = 13
    (0 until 256).foreach { i =>
      require((payload(p) & 0xff) == i && (payload(p + 1) & 0xff) == i &&
              (payload(p + 2) & 0xff) == i, "gif: palette is not the identity gray ramp")
      p += 3
    }
    require((payload(p) & 0xff) == 0x2c, "gif: image descriptor expected")
    val iw = (payload(p + 5) & 0xff) | ((payload(p + 6) & 0xff) << 8)
    val ih = (payload(p + 7) & 0xff) | ((payload(p + 8) & 0xff) << 8)
    require(iw == W && ih == H, "gif: image dimensions disagree with screen")
    require((payload(p + 9) & 0x80) == 0, "gif: local color tables unsupported")
    require((payload(p + 10) & 0xff) == MinCodeSize, "gif: unexpected LZW root size")
    lzwDecode(java.util.Arrays.copyOfRange(payload, p + 11, payload.length), RasterBytes)
  }

  /** Independent decode via the JDK's GIF reader — raw palette indices
    * through the raster (identity palette ⇒ index = gray sample). */
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

  /** 128 deterministic raster bytes: chained md5 under 'g' salts. */
  private[multimodal] def gifPixelHex(text: Column): Column =
    concat(md5(concat(text, lit("g0"))), md5(concat(text, lit("g1"))),
           md5(concat(text, lit("g2"))), md5(concat(text, lit("g3"))),
           md5(concat(text, lit("g4"))), md5(concat(text, lit("g5"))),
           md5(concat(text, lit("g6"))), md5(concat(text, lit("g7"))))

  def gifFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id".as("media_id"), unhex(gifPixelHex($"text")).as("px"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, px) => (id, encodeGif(px)) })
      .toDF("media_id", "payload")
  }

  /** mm11: decode through BOTH codecs, require byte agreement, emit
    * features — oracle-checked against the generation chain. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = gifFromDocuments(spark, dir).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, payload) =>
        val raster = decodeGif(payload)
        val indep = decodeWithImageIO(payload)
        require(java.util.Arrays.equals(raster, indep),
          s"mm11: hand decode disagrees with imageio on media $id")
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

  /** DuckDB replay: regenerate the raster hex from the chain, recompute
    * the features by per-byte folds — the mm9 pattern verbatim. */
  val oracleSql: String =
    s"""WITH px AS (
         SELECT doc_id AS media_id,
           md5(text || 'g0') || md5(text || 'g1') || md5(text || 'g2')
             || md5(text || 'g3') || md5(text || 'g4') || md5(text || 'g5')
             || md5(text || 'g6') || md5(text || 'g7') AS px_hex
         FROM documents),
       bytes AS (
         SELECT media_id, px_hex,
           [CAST(('0x' || substr(px_hex, 2 * i + 1, 2)) AS INT)
            for i in range(0, $RasterBytes)] AS bl
         FROM px)
       SELECT media_id,
         CAST($RasterBytes AS BIGINT) AS n_px,
         round(list_reduce(list_transform(bl, x -> x / 255.0),
                           (a, x) -> a + x) / $RasterBytes, 6) AS mean_px,
         CAST(list_min(bl) AS BIGINT) AS min_px,
         CAST(list_max(bl) AS BIGINT) AS max_px,
         md5(px_hex) AS px_md5
       FROM bytes ORDER BY media_id"""

  // mm11: lossless LZW — the oracle regenerates the decode from the chain
  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm11_gif_decode", query, Some(oracleSql)))
}
