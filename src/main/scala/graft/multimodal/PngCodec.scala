package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QuerySpec, Tables}

/** §2.3 P60 (mm9): PNG decode — the first ENTROPY-CODED codec in the
  * multimodal family. mm1–mm8 walk real but uncompressed containers
  * (BMP/PCM-WAV/raw-DIB AVI); production image corpora are overwhelmingly
  * PNG/JPEG, where the raster sits behind a real compression stream.
  * This operator certifies a genuinely compressed decode path end to
  * end: a complete spec-conformant PNG (signature, CRC-checked chunks,
  * zlib/DEFLATE IDAT, per-scanline filters incl. Sub/Up/Average/Paeth)
  * is decoded by hand — `java.util.zip.Inflater` for the DEFLATE
  * stream, explicit defilter per the PNG spec — and the decode is
  * triple-certified:
  *
  *   1. in-query: the hand decode must byte-agree with `javax.imageio`'s
  *     INDEPENDENT PNG reader on every payload (two codecs, one truth);
  *   2. hash gate: the DuckDB oracle regenerates the expected raster
  *     from the deterministic generation rule (the mm1 md5-chain
  *     discipline) — a broken encoder OR either decoder mismatches;
  *   3. spec: corrupted streams (bit flips in IDAT/IHDR, truncation,
  *     bad signature, bad zlib bytes) are REJECTED loudly, never
  *     decoded to garbage (the mm5 torn-file discipline).
  *
  * Payloads are 8×4 RGB8 PNGs whose raster bytes are a chained md5 of
  * the document text; the per-scanline filter type cycles with
  * (doc_id + row) % 5, so all five PNG filters are exercised across the
  * corpus and the filter choice itself is covered by the hash gate
  * (imageio knows nothing of the generation rule — it just defilters
  * what the stream says).
  *
  * Scale shape: generation and decode+featurize are ONE narrow
  * mapPartitions pass each (zero shuffle — the mm1 shape); Deflater/
  * Inflater handles amortize per partition. Compression is real work
  * per byte, row-local, embarrassingly parallel — the mm7 class.
  */
object PngCodec {

  val W = 8
  val H = 4
  val Bpp = 3 // RGB8
  val RasterBytes: Int = W * H * Bpp // 96 = 6 md5 blocks

  /** 96 deterministic raster bytes as hex: chained md5 under 'p' salts
    * (distinct from mm1's chain so the two fixtures never alias). */
  private[multimodal] def pngPixelHex(text: Column): Column =
    concat(md5(concat(text, lit("p0"))), md5(concat(text, lit("p1"))),
           md5(concat(text, lit("p2"))), md5(concat(text, lit("p3"))),
           md5(concat(text, lit("p4"))), md5(concat(text, lit("p5"))))

  private def u32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
          ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    val tb = typ.getBytes("US-ASCII")
    crc.update(tb); crc.update(data)
    u32(data.length.toLong) ++ tb ++ data ++ u32(crc.getValue)
  }

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode a top-down RGB raster as a complete PNG; scanline y uses
    * filter (f0 + y) % 5, so every filter type appears in the corpus. */
  private[multimodal] def encodePng(raster: Array[Byte], f0: Int): Array[Byte] = {
    require(raster.length == RasterBytes, s"raster must be $RasterBytes bytes")
    val stride = W * Bpp
    val filtered = new Array[Byte](H * (1 + stride))
    var y = 0
    while (y < H) {
      val f = ((f0 + y) % 5 + 5) % 5
      filtered(y * (1 + stride)) = f.toByte
      var i = 0
      while (i < stride) {
        val x = raster(y * stride + i) & 0xff
        val a = if (i >= Bpp) raster(y * stride + i - Bpp) & 0xff else 0
        val b = if (y > 0) raster((y - 1) * stride + i) & 0xff else 0
        val c = if (y > 0 && i >= Bpp) raster((y - 1) * stride + i - Bpp) & 0xff else 0
        val out = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - ((a + b) >> 1)
          case 4 => x - paeth(a, b, c)
        }
        filtered(y * (1 + stride) + 1 + i) = (out & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val buf = new Array[Byte](filtered.length + 64)
    val n = deflater.deflate(buf)
    require(deflater.finished(), "deflate buffer too small")
    deflater.end()
    val ihdr = u32(W.toLong) ++ u32(H.toLong) ++
      Array(8.toByte, 2.toByte, 0.toByte, 0.toByte, 0.toByte)
    Signature ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", java.util.Arrays.copyOf(buf, n)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Hand decode: signature, chunk walk with CRC verification, IHDR
    * contract, Inflater, per-scanline defilter. Throws (loudly, with
    * the failing stage) on ANY corruption — truncation, CRC mismatch,
    * bad zlib stream, wrong dimensions, unknown filter. */
  private[multimodal] def decodePng(payload: Array[Byte]): Array[Byte] = {
    require(payload.length >= 8 &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(payload, 8), Signature),
      "png: bad signature")
    var pos = 8
    var ihdrSeen = false
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      require(pos + 8 <= payload.length, "png: truncated chunk header")
      val len = ((payload(pos) & 0xff) << 24) | ((payload(pos + 1) & 0xff) << 16) |
                ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
      // PNG caps chunk lengths at 2^31-1; a corrupt length with the top
      // bit set parses negative here and would otherwise slip past the
      // truncation check below and crash inside CRC32 instead of failing
      // the documented contract
      require(len >= 0, "png: bad chunk length")
      val typ = new String(payload, pos + 4, 4, "US-ASCII")
      require(pos + 8 + len + 4 <= payload.length, s"png: truncated $typ chunk")
      val crc = new java.util.zip.CRC32()
      crc.update(payload, pos + 4, 4 + len)
      val stored = ((payload(pos + 8 + len) & 0xffL) << 24) |
                   ((payload(pos + 9 + len) & 0xffL) << 16) |
                   ((payload(pos + 10 + len) & 0xffL) << 8) |
                   (payload(pos + 11 + len) & 0xffL)
      require(crc.getValue == stored, s"png: CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "png: bad IHDR length")
          val w = ((payload(pos + 8) & 0xff) << 24) | ((payload(pos + 9) & 0xff) << 16) |
                  ((payload(pos + 10) & 0xff) << 8) | (payload(pos + 11) & 0xff)
          val h = ((payload(pos + 12) & 0xff) << 24) | ((payload(pos + 13) & 0xff) << 16) |
                  ((payload(pos + 14) & 0xff) << 8) | (payload(pos + 15) & 0xff)
          require(w == W && h == H, s"png: unexpected dimensions ${w}x$h")
          require(payload(pos + 16) == 8 && payload(pos + 17) == 2,
            "png: expected 8-bit RGB")
          ihdrSeen = true
        case "IDAT" => idat.write(payload, pos + 8, len)
        case "IEND" => done = true
        case _      => // ancillary chunks would be skipped here
      }
      pos += 8 + len + 4
    }
    require(ihdrSeen, "png: missing IHDR")
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val stride = W * Bpp
    val filtered = new Array[Byte](H * (1 + stride))
    // loop until finished(): a valid stream may need multiple inflate
    // calls (one call sufficing is an implementation detail, not a
    // zlib contract); a zero-byte round before finished() is a stall
    var n = 0
    try {
      var stalled = false
      while (!inflater.finished() && n < filtered.length && !stalled) {
        val got = inflater.inflate(filtered, n, filtered.length - n)
        if (got == 0 && !inflater.finished()) stalled = true else n += got
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"png: bad zlib stream: ${e.getMessage}")
    }
    require(n == filtered.length && inflater.finished(),
      s"png: zlib stream decoded to $n of ${filtered.length} bytes")
    inflater.end()
    val raster = new Array[Byte](RasterBytes)
    var y = 0
    while (y < H) {
      val f = filtered(y * (1 + stride)) & 0xff
      require(f <= 4, s"png: unknown filter $f on row $y")
      var i = 0
      while (i < stride) {
        val v = filtered(y * (1 + stride) + 1 + i) & 0xff
        val a = if (i >= Bpp) raster(y * stride + i - Bpp) & 0xff else 0
        val b = if (y > 0) raster((y - 1) * stride + i) & 0xff else 0
        val c = if (y > 0 && i >= Bpp) raster((y - 1) * stride + i - Bpp) & 0xff else 0
        val x = f match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) >> 1)
          case 4 => v + paeth(a, b, c)
        }
        raster(y * stride + i) = (x & 0xff).toByte
        i += 1
      }
      y += 1
    }
    raster
  }

  /** Independent decode via the JDK's own PNG reader, rendered in the
    * same top-down RGB order — the in-query cross-codec witness. */
  private[multimodal] def decodeWithImageIO(payload: Array[Byte]): Array[Byte] = {
    MultimodalOps.imageIoNoCache // memory-backed ImageIO streams (no per-image temp file)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "imageio: payload is not a decodable image")
    require(img.getWidth == W && img.getHeight == H, "imageio: wrong dimensions")
    val out = new Array[Byte](RasterBytes)
    var k = 0; var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        val rgb = img.getRGB(x, y)
        out(k) = ((rgb >> 16) & 0xff).toByte; k += 1 // R
        out(k) = ((rgb >> 8) & 0xff).toByte; k += 1  // G
        out(k) = (rgb & 0xff).toByte; k += 1         // B
        x += 1
      }
      y += 1
    }
    out
  }

  /** Deterministic PNG table from documents: payload = complete PNG of
    * the md5-chain raster, filter phase = doc_id % 5. */
  def pngFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id".as("media_id"),
        unhex(pngPixelHex($"text")).as("px"),
        ($"doc_id" % 5).cast("int").as("f0"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions(it => it.map { case (id, px, f0) => (id, encodePng(px, f0)) })
      .toDF("media_id", "payload")
  }

  /** mm9: decode every PNG through BOTH codecs (hand Inflater+defilter
    * and imageio), require byte agreement, emit features of the hand-
    * decoded raster — oracle-checked against the generation chain. */
  def query(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = pngFromDocuments(spark, dir).as[(Long, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, payload) =>
        val raster = decodePng(payload)
        val indep = decodeWithImageIO(payload)
        require(java.util.Arrays.equals(raster, indep),
          s"mm9: hand decode disagrees with imageio on media $id")
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
      .select($"media_id", $"n_px",
        round($"mean_raw", 6).as("mean_px"),
        $"mn".cast("long").as("min_px"), $"mx".cast("long").as("max_px"),
        md5($"px_hex").as("px_md5"))
      .orderBy($"media_id")
  }

  /** DuckDB replay: regenerate the raster hex from the chain, recompute
    * every feature by byte math over the hex string (the mm6 pattern) —
    * a broken encoder, filter, Inflater walk, or either decoder
    * hash-mismatches. */
  val oracleSql: String =
    s"""WITH m AS (
         SELECT doc_id AS media_id,
           md5(text || 'p0') || md5(text || 'p1') || md5(text || 'p2') ||
           md5(text || 'p3') || md5(text || 'p4') || md5(text || 'p5') AS ph
         FROM documents),
       b AS (
         SELECT media_id, ph,
           [CAST(('0x' || substr(ph, 2 * i + 1, 2)) AS BIGINT)
            for i in range(0, $RasterBytes)] AS bytes
         FROM m)
       SELECT media_id, CAST($RasterBytes AS INTEGER) AS n_px,
         round(list_sum(list_transform(bytes, x -> x / 255.0)) / $RasterBytes.0, 6) AS mean_px,
         CAST(list_min(bytes) AS BIGINT) AS min_px,
         CAST(list_max(bytes) AS BIGINT) AS max_px,
         md5(ph) AS px_md5
       FROM b
       ORDER BY media_id"""

  // mm9: features of the hand-decoded (Inflater + defilter) PNG raster
  // replayed from the md5-chain generation rule
  def specs: Seq[QuerySpec] = Seq(QuerySpec("mm9_png_decode", query, Some(oracleSql)))
}
