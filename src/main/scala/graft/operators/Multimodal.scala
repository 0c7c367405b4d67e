package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Multimodal column plumbing: image/audio as opaque `binary` columns
  * with typed metadata, processed in batches per partition.
  *
  * The decode step is REAL for three formats that need no external
  * codec: PPM P6 images (even doc_ids), PCM WAV audio (odd doc_ids),
  * and — the production format — PNG (all docs, `media_png`: chunk walk
  * with CRC32 verification, zlib inflate, all five scanline filters;
  * cross-validated both ways against the JVM's ImageIO in
  * PipelineOpsSpec). Payloads are synthesized from each document's utf8
  * bytes — a full binary ENCODE, then an honest DECODE that derives
  * width/height/sample-count from the bytes and computes true
  * pixel/sample statistics. The DuckDB oracle replays the same stats
  * from the same source bytes.
  *
  * The Spark-side shape is the 100 TB design: binary payload + metadata
  * struct schema, batched per-partition processing via mapPartitions
  * over a typed Dataset (the Scala analogue of mapInPandas: one iterator
  * pass, no per-row UDF overhead, constant memory); decode is map-side
  * only, no shuffle until the final small aggregate.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], width: Int,
                      height: Int, format: String)
  case class MediaFeatures(doc_id: Long, format: String, n_bytes: Int,
                           n_units: Long, mean_unit: Double)

  // ---- encode: synthesize real PPM/WAV binaries from text bytes ----

  /** PPM P6: "P6\n<w> <h>\n255\n" + w*h*3 raw RGB bytes. Pixels are the
    * doc's utf8 bytes (cycled if the doc is shorter than one row). */
  private def encodePpm(id: Long, tb: Array[Byte]): MediaRow = {
    val w = 8
    val h = math.max(1, tb.length / 24) // 24 bytes = one 8-pixel RGB row
    val n = w * h * 3
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < n) { out(header.length + i) = tb(i % tb.length); i += 1 }
    MediaRow(id, out, w, h, "ppm")
  }

  /** Canonical 44-byte PCM WAV header + 16-bit LE mono samples: sample j
    * is the doc's utf8 byte pair (2j, 2j+1), little-endian signed. */
  private def encodeWav(id: Long, tb: Array[Byte]): MediaRow = {
    val n = tb.length / 2
    val dataSize = n * 2
    val out = new Array[Byte](44 + dataSize)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(8000 * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    System.arraycopy(tb, 0, out, 44, dataSize)
    MediaRow(id, out, 0, 0, "wav")
  }

  private def encodeBatch(rows: Iterator[(Long, String)]): Iterator[MediaRow] =
    rows.map { case (id, text) =>
      // empty docs pad to one space byte so the cycled fill in encodePpm
      // never divides by zero; the DuckDB oracle mirrors the convention
      // via coalesce(nullif(text, ''), ' ')
      val raw = text.getBytes("UTF-8")
      val tb = if (raw.isEmpty) Array[Byte](' '.toByte) else raw
      if (id % 2 == 0) encodePpm(id, tb) else encodeWav(id, tb)
    }

  // ---- decode: parse the headers, compute true pixel/sample stats ----

  /** Parse "P6\n<w> <h>\n255\n" + raw RGB; returns pixel count and the
    * mean RGB byte value. The parsed dims are cross-checked against the
    * row's metadata. */
  private def decodePpm(r: MediaRow): MediaFeatures = {
    val p = r.payload
    require(p(0) == 'P' && p(1) == '6', "not a P6 PPM")
    // header = 3 whitespace-separated ints after the magic
    var i = 2
    def nextInt(): Int = {
      while (Character.isWhitespace(p(i))) i += 1
      var v = 0
      while (!Character.isWhitespace(p(i))) { v = v * 10 + (p(i) - '0'); i += 1 }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    i += 1 // single whitespace after maxval, then raw data
    require(maxval == 255 && w == r.width && h == r.height,
      s"PPM header ($w x $h, $maxval) disagrees with metadata")
    val n = w * h * 3
    var sum = 0L
    var k = 0
    while (k < n) { sum += p(i + k) & 0xFF; k += 1 }
    MediaFeatures(r.doc_id, r.format, p.length, w.toLong * h,
      if (n == 0) 0.0 else sum.toDouble / n)
  }

  /** Parse the PCM WAV header + 16-bit LE samples; returns sample count
    * and the mean absolute sample value. */
  private def decodeWav(r: MediaRow): MediaFeatures = {
    val p = r.payload
    val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(p(0) == 'R' && p(1) == 'I' && p(8) == 'W', "not a RIFF/WAVE")
    val channels = bb.getShort(22)
    val bits = bb.getShort(34)
    val dataSize = bb.getInt(40)
    require(channels == 1 && bits == 16, "expected 16-bit mono PCM")
    val n = dataSize / 2
    var sum = 0L
    var j = 0
    while (j < n) { sum += math.abs(bb.getShort(44 + 2 * j).toInt); j += 1 }
    MediaFeatures(r.doc_id, r.format, p.length, n.toLong,
      if (n == 0) 0.0 else sum.toDouble / n)
  }

  private def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map(r => if (r.format == "ppm") decodePpm(r) else decodeWav(r))

  // ---- PNG: a production format, dependency-free on the JVM ----

  /** Paeth predictor (PNG spec §9, filter type 4). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }

  private def beInt(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val t = tag.getBytes("US-ASCII")
    beInt(data.length) ++ t ++ data ++ beInt(crc32(t, data))
  }

  /** A REAL 8-bit grayscale PNG (spec-conformant: signature, IHDR, one
    * IDAT with zlib-deflated filtered scanlines, IEND, per-chunk CRC32).
    * Pixels are the doc's utf8 bytes cycled over an 8 x h image — the
    * same fill convention as [[encodePpm]], so the oracle's pixel math
    * is shared. Row y uses filter type y % 5, so every decode exercises
    * all five PNG filters (None/Sub/Up/Average/Paeth), not just the
    * trivial one. */
  private def encodePng(id: Long, tb: Array[Byte]): (Long, Array[Byte]) = {
    val w = 8
    val h = math.max(1, tb.length / 8)
    val raw = Array.tabulate(h * w)(i => tb(i % tb.length))
    val filtered = new Array[Byte](h * (w + 1))
    var y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (w + 1)) = ft.toByte
      var x = 0
      while (x < w) {
        val cur = raw(y * w + x) & 0xFF
        val left = if (x > 0) raw(y * w + x - 1) & 0xFF else 0
        val up = if (y > 0) raw((y - 1) * w + x) & 0xFF else 0
        val ul = if (x > 0 && y > 0) raw((y - 1) * w + x - 1) & 0xFF else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        filtered(y * (w + 1) + 1 + x) = v.toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val buf = new Array[Byte](filtered.length + 64)
    val bos = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
    defl.end()
    val ihdr = beInt(w) ++ beInt(h) ++
      Array[Byte](8, 0, 0, 0, 0) // bit depth 8, grayscale, no interlace
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    (id, sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", bos.toByteArray) ++
      chunk("IEND", Array.emptyByteArray))
  }

  case class PngFeatures(doc_id: Long, n_pixels: Long, mean_px: Double,
                         crc_ok: Int)

  /** Full PNG decode: chunk walk with CRC verification, zlib inflate,
    * scanline unfiltering for all five filter types, pixel stats. Throws
    * on any structural violation — the gate would surface a corrupt
    * encode as a query error, not a silent stat drift. */
  private[graft] def decodePng(id: Long, p: Array[Byte]): PngFeatures = {
    require(
      (p(0) & 0xFF) == 137 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G',
      "not a PNG signature")
    val bb = java.nio.ByteBuffer.wrap(p) // PNG ints are big-endian
    var off = 8
    var w = 0; var h = 0; var crcOk = 1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      val len = bb.getInt(off)
      val tag = new String(p, off + 4, 4, "US-ASCII")
      val want = bb.getInt(off + 8 + len)
      val c = new java.util.zip.CRC32
      c.update(p, off + 4, 4 + len)
      if (c.getValue.toInt != want) crcOk = 0
      tag match {
        case "IHDR" =>
          w = bb.getInt(off + 8); h = bb.getInt(off + 12)
          require(p(off + 16) == 8 && p(off + 17) == 0,
            "expected 8-bit grayscale")
          require(p(off + 20) == 0, "interlaced PNG unsupported")
        case "IDAT" => idat.write(p, off + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunks skipped
      }
      off += 12 + len
    }
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val filtered = new Array[Byte](h * (w + 1))
    var got = 0
    while (got < filtered.length && !infl.finished())
      got += infl.inflate(filtered, got, filtered.length - got)
    infl.end()
    require(got == filtered.length, s"IDAT inflated to $got bytes")
    // unfilter in place into raw scanlines
    val raw = new Array[Int](h * w)
    var y = 0
    while (y < h) {
      val ft = filtered(y * (w + 1)) & 0xFF
      var x = 0
      while (x < w) {
        val fv = filtered(y * (w + 1) + 1 + x) & 0xFF
        val left = if (x > 0) raw(y * w + x - 1) else 0
        val up = if (y > 0) raw((y - 1) * w + x) else 0
        val ul = if (x > 0 && y > 0) raw((y - 1) * w + x - 1) else 0
        raw(y * w + x) = ft match {
          case 0 => fv
          case 1 => (fv + left) & 0xFF
          case 2 => (fv + up) & 0xFF
          case 3 => (fv + (left + up) / 2) & 0xFF
          case 4 => (fv + paeth(left, up, ul)) & 0xFF
          case t => throw new IllegalArgumentException(s"filter $t")
        }
        x += 1
      }
      y += 1
    }
    var sum = 0L
    var i = 0
    while (i < raw.length) { sum += raw(i); i += 1 }
    PngFeatures(id, raw.length.toLong, sum.toDouble / raw.length, crcOk)
  }

  private[graft] def encodePngPayload(id: Long, text: String)
      : (Long, Array[Byte]) = {
    val rawB = text.getBytes("UTF-8")
    encodePng(id, if (rawB.isEmpty) Array[Byte](' '.toByte) else rawB)
  }

  /** Every doc encoded as a real grayscale PNG, then fully decoded
    * (CRC + inflate + all-five-filters unfilter) back to pixel stats —
    * map-side only, the aggregate is the single shuffle. The oracle
    * replays the pixel stats from the cycled source bytes; crc_ok
    * counting every row certifies the decode path ran, not a stub. */
  def mediaPng(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => encodePngPayload(id, text) })
      .mapPartitions(_.map { case (id, p) => decodePng(id, p) })
      .toDF()
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_pixels").as("total_pixels"),
        round(avg("mean_px"), 4).as("avg_pixel"),
        sum("crc_ok").as("n_crc_ok"))
  }

  // ---- JPEG: baseline JFIF (huffman + DCT), the lossy production codec ----

  /** JPEG zigzag order: zz(k) = raster index of the k-th zigzag coeff
    * (ISO/IEC 10918-1 Figure A.6 — public spec constant). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Standard luminance Huffman tables (ISO 10918-1 Annex K.3): BITS
    * (counts per code length 1..16) and HUFFVAL, for DC and AC. */
  private val DcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** (code, length) per symbol from a (BITS, HUFFVAL) table pair —
    * the canonical code assignment of 10918-1 Annex C. */
  private def huffCodes(bits: Array[Int], vals: Array[Int])
      : Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.toMap
  }

  private lazy val DcEnc = huffCodes(DcBits, DcVals)
  private lazy val AcEnc = huffCodes(AcBits, AcVals)

  /** Quantization table: ALL 8s. Constant 8x8 blocks then round-trip
    * EXACTLY — FDCT of a constant block is DC-only with DC = 8(v-128),
    * quantizing by 8 gives v-128 (|v-128| <= 128, far inside baseline's
    * 11-bit DC range), and any IDCT reproduces the constant bit-for-bit
    * (DC-only blocks are where integer and float IDCTs agree exactly).
    * That exactness is what lets a LOSSY codec carry a full-hash DuckDB
    * oracle: the gate payload is built from constant blocks, while the
    * encoder/decoder below implement the general baseline machinery
    * (real FDCT over all 64 coefficients, zigzag run-length, Annex-K
    * Huffman, byte stuffing, full IDCT) — the general path is
    * cross-validated against ImageIO on non-constant images in
    * PipelineOpsSpec. */
  private val JQuant = Array.fill(64)(8)

  private class BitWriter(bos: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = ((acc >> (nbits - 8)) & 0xFF).toInt
        bos.write(b)
        if (b == 0xFF) bos.write(0x00) // byte stuffing
        nbits -= 8
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1s per the spec
      val pad = 8 - nbits
      put((1 << pad) - 1, pad)
    }
  }

  /** Magnitude category of a DC diff / AC value (10918-1 F.1.2.1.1). */
  private def category(v: Int): Int = {
    var a = math.abs(v); var c = 0
    while (a != 0) { a >>= 1; c += 1 }
    c
  }

  /** cos((2a+1)·u·π/16) for a, u in 0..7 — the only 64 distinct cosine
    * values either DCT direction ever evaluates. Hoisting them into a
    * table is the standard codec move and changes NOTHING numerically:
    * the same math.cos doubles multiply in the same order, so outputs
    * are bit-identical to the inline-cos formulation (the 31.8 s
    * media_jpeg bench row was ~all repeated math.cos calls — 8192 per
    * 8x8 block per direction). */
  private val CosT: Array[Double] = {
    val t = new Array[Double](64)
    var a = 0
    while (a < 8) {
      var u = 0
      while (u < 8) {
        t(a * 8 + u) = math.cos((2 * a + 1) * u * math.Pi / 16)
        u += 1
      }
      a += 1
    }
    t
  }

  /** The forward DCT-II of one 8x8 block (levels already shifted), the
    * textbook float formulation — exact enough that a constant block's
    * ACs quantize to 0 and its DC to exactly v-128 (scaladoc above). */
  private def fdct(in: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) {
          var y = 0
          while (y < 8) {
            s += in(y * 8 + x) * CosT(x * 8 + u) * CosT(y * 8 + v)
            y += 1
          }
          x += 1
        }
        val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
        out(v * 8 + u) = 0.25 * cu * cv * s
        v += 1
      }
      u += 1
    }
    out
  }

  /** Inverse DCT of one dequantized 8x8 block (raster order in/out). */
  private def idct(in: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
            val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
            s += cu * cv * in(v * 8 + u) *
              CosT(x * 8 + u) * CosT(y * 8 + v)
            v += 1
          }
          u += 1
        }
        out(y * 8 + x) = 0.25 * s
        y += 1
      }
      x += 1
    }
    out
  }

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def marker(tag: Int, body: Array[Byte]): Array[Byte] =
    Array(0xFF.toByte, tag.toByte) ++ be16(body.length + 2) ++ body

  /** Encode an 8-bit grayscale image as baseline JFIF. General: any
    * pixel array whose width/height are multiples of 8 (the gate
    * payloads are; the DECODER below also clips partial edge blocks for
    * foreign images). One component, no subsampling, Annex-K tables. */
  private[graft] def encodeJpegGray(px: Array[Int], w: Int, h: Int)
      : Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0, "encoder expects whole blocks")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xFF, 0xD8).map(_.toByte)) // SOI
    out.write(marker(0xE0, "JFIF\u0000".getBytes("US-ASCII") ++
      Array[Byte](1, 1, 0) ++ be16(1) ++ be16(1) ++ Array[Byte](0, 0)))
    out.write(marker(0xDB, Array(0.toByte) ++
      (0 until 64).map(k => JQuant(k).toByte))) // DQT id 0, zigzag order
    out.write(marker(0xC0, Array(8.toByte) ++ be16(h) ++ be16(w) ++
      Array[Byte](1, 1, 0x11, 0))) // SOF0: 1 component, 1x1 sampling
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]) =
      marker(0xC4, Array(((cls << 4) | 0).toByte) ++
        (1 to 16).map(l => bits(l).toByte) ++ vals.map(_.toByte))
    out.write(dht(0, DcBits, DcVals))
    out.write(dht(1, AcBits, AcVals))
    out.write(marker(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))) // SOS
    val bw = new BitWriter(out)
    var prevDc = 0
    var by = 0
    while (by < h / 8) {
      var bx = 0
      while (bx < w / 8) {
        val blk = new Array[Double](64)
        var i = 0
        while (i < 64) {
          blk(i) = px((by * 8 + i / 8) * w + bx * 8 + i % 8) - 128.0
          i += 1
        }
        val coef = fdct(blk)
        val q = Array.tabulate(64)(k =>
          math.round(coef(Zigzag(k)) / JQuant(k)).toInt)
        // DC: category + magnitude bits of the diff
        val diff = q(0) - prevDc
        prevDc = q(0)
        val dcCat = category(diff)
        val (dcc, dcl) = DcEnc(dcCat)
        bw.put(dcc, dcl)
        if (dcCat > 0)
          bw.put(if (diff >= 0) diff else diff + (1 << dcCat) - 1, dcCat)
        // AC: run-length of zeros + category, ZRL for 16-runs, EOB
        var run = 0
        var k = 1
        while (k < 64) {
          val v = q(k)
          if (v == 0) run += 1
          else {
            while (run >= 16) {
              val (zc, zl) = AcEnc(0xF0); bw.put(zc, zl); run -= 16
            }
            val cat = category(v)
            val (ac, al) = AcEnc((run << 4) | cat)
            bw.put(ac, al)
            bw.put(if (v >= 0) v else v + (1 << cat) - 1, cat)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (ec, el) = AcEnc(0x00); bw.put(ec, el) }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    out.write(Array(0xFF, 0xD9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Gate payload: width 8, height 8*nb — one constant 8x8 block per
    * nb = max(1, len/8) blocks, block b filled uniformly with the doc's
    * byte tb(b % len). The oracle's pixel mean is then the byte mean
    * over the cycled sequence (each byte weighted equally by 64). */
  private[graft] def encodeJpegPayload(id: Long, text: String)
      : (Long, Array[Byte]) = {
    val rawB = text.getBytes("UTF-8")
    val tb = if (rawB.isEmpty) Array[Byte](' '.toByte) else rawB
    val nb = math.max(1, tb.length / 8)
    val w = 8; val h = 8 * nb
    val px = new Array[Int](w * h)
    var b = 0
    while (b < nb) {
      val v = tb(b % tb.length) & 0xFF
      var i = 0
      while (i < 64) { px(b * 64 + i) = v; i += 1 }
      b += 1
    }
    (id, encodeJpegGray(px, w, h))
  }

  case class JpegFeatures(doc_id: Long, n_pixels: Long, mean_px: Double,
                          ok: Int)

  private class BitReader(p: Array[Byte], private var off: Int) {
    private var acc = 0L
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        val b = p(off) & 0xFF; off += 1
        if (b == 0xFF) {
          val m = p(off) & 0xFF
          if (m == 0x00) off += 1 // stuffed byte
          else
            // a well-formed scan pads its FINAL byte with 1s before the
            // marker, so entropy decoding never needs bits past a
            // non-stuffed 0xFF — reaching one means the scan is
            // truncated/corrupt; fail the walk instead of silently
            // decoding substituted bits (r9 ADVICE)
            throw new IllegalArgumentException(
              f"entropy decode ran past scan end (marker 0xFF$m%02X)")
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      ((acc >> nbits) & 1).toInt
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Canonical Huffman decode table: (length -> (minCode, maxCode,
    * firstIndex)) per 10918-1 F.2.2.3's DECODE procedure. */
  private class HuffDec(bits: Array[Int], vals: Array[Int]) {
    private val minC = new Array[Int](17)
    private val maxC = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) == 0) { minC(l) = 0; maxC(l) = -1 }
        else {
          valPtr(l) = k
          minC(l) = code
          code += bits(l); k += bits(l)
          maxC(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      var l = 1
      while (l <= 16 && (maxC(l) < 0 || code > maxC(l))) {
        code = (code << 1) | br.bit()
        l += 1
      }
      require(l <= 16, "invalid huffman code")
      vals(valPtr(l) + code - minC(l))
    }
  }

  /** EXTEND (10918-1 F.2.2.1): map magnitude bits to a signed value. */
  private def extend(v: Int, cat: Int): Int =
    if (cat == 0) 0
    else if (v < (1 << (cat - 1))) v - (1 << cat) + 1
    else v

  /** Full baseline grayscale JFIF decode: marker walk, DQT/DHT/SOF0/SOS
    * parse, huffman entropy decode with byte unstuffing, dequantize,
    * dezigzag, IDCT, level shift, edge-block clipping; pixel stats.
    * Throws on structural violations (`ok` certifies the walk). Handles
    * any single-component baseline JPEG (e.g. ImageIO's grayscale
    * output), not just this file's own encoder. */
  private[graft] def decodeJpeg(id: Long, p: Array[Byte]): JpegFeatures = {
    require((p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8, "not a JPEG SOI")
    var off = 2
    var w = 0; var h = 0
    val quant = scala.collection.mutable.Map.empty[Int, Array[Int]]
    val dcTabs = scala.collection.mutable.Map.empty[Int, HuffDec]
    val acTabs = scala.collection.mutable.Map.empty[Int, HuffDec]
    var dcSel = 0; var acSel = 0; var qSel = 0
    var scanAt = -1
    while (scanAt < 0) {
      require((p(off) & 0xFF) == 0xFF, s"marker expected at $off")
      val tag = p(off + 1) & 0xFF
      val len = ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
      tag match {
        case 0xDB => // DQT: one or more (precision|id, 64 entries)
          var o = off + 4
          while (o < off + 2 + len) {
            val pq = (p(o) & 0xF0) >> 4; val id = p(o) & 0x0F
            require(pq == 0, "16-bit quant tables unsupported")
            quant(id) = Array.tabulate(64)(k => p(o + 1 + k) & 0xFF)
            o += 65
          }
        case 0xC0 => // SOF0 baseline
          h = ((p(off + 5) & 0xFF) << 8) | (p(off + 6) & 0xFF)
          w = ((p(off + 7) & 0xFF) << 8) | (p(off + 8) & 0xFF)
          require((p(off + 9) & 0xFF) == 1, "grayscale decoder: 1 component")
          require((p(off + 11) & 0xFF) == 0x11, "no subsampling for 1 comp")
          qSel = p(off + 12) & 0xFF
        case 0xC1 | 0xC2 | 0xC3 =>
          throw new IllegalArgumentException("not baseline sequential")
        case 0xC4 => // DHT: one or more tables
          var o = off + 4
          while (o < off + 2 + len) {
            val cls = (p(o) & 0xF0) >> 4; val id = p(o) & 0x0F
            val bits = new Array[Int](17)
            var n = 0
            var l = 1
            while (l <= 16) { bits(l) = p(o + l) & 0xFF; n += bits(l); l += 1 }
            val vals = Array.tabulate(n)(k => p(o + 17 + k) & 0xFF)
            if (cls == 0) dcTabs(id) = new HuffDec(bits, vals)
            else acTabs(id) = new HuffDec(bits, vals)
            o += 17 + n
          }
        case 0xDA => // SOS
          require((p(off + 4) & 0xFF) == 1, "1-component scan expected")
          dcSel = (p(off + 6) & 0xF0) >> 4
          acSel = p(off + 6) & 0x0F
          scanAt = off + 2 + len
        case 0xD9 => throw new IllegalArgumentException("EOI before SOS")
        case _ => () // APPn/COM skipped
      }
      off += 2 + len
    }
    require(w > 0 && h > 0 && quant.contains(qSel), "incomplete headers")
    val q = quant(qSel)
    val dcT = dcTabs(dcSel); val acT = acTabs(acSel)
    val br = new BitReader(p, scanAt)
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val px = new Array[Int](w * h)
    var prevDc = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        val coef = new Array[Double](64)
        val dcCat = dcT.decode(br)
        prevDc += extend(br.bits(dcCat), dcCat)
        coef(0) = prevDc.toDouble * q(0)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val rs = acT.decode(br)
          val run = (rs & 0xF0) >> 4; val cat = rs & 0x0F
          if (cat == 0) {
            if (run == 15) k += 16 // ZRL
            else eob = true
          } else {
            k += run
            require(k < 64, "AC index overflow")
            coef(Zigzag(k)) = extend(br.bits(cat), cat).toDouble * q(k)
            k += 1
          }
        }
        val out = idct(coef)
        var i = 0
        while (i < 64) {
          val x = bx * 8 + i % 8; val y = by * 8 + i / 8
          if (x < w && y < h) {
            val v = math.round(out(i) + 128.0).toInt
            px(y * w + x) = math.max(0, math.min(255, v))
          }
          i += 1
        }
        bx += 1
      }
      by += 1
    }
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += px(i); i += 1 }
    JpegFeatures(id, px.length.toLong, sum.toDouble / px.length, 1)
  }

  /** Every doc encoded as a real baseline JFIF (grayscale, constant
    * 8x8 blocks from the doc's cycled bytes), then fully decoded back
    * (marker walk, huffman, dequantize, IDCT) to pixel stats — same
    * map-only shape as [[mediaPng]], single final aggregate. Lossy
    * format, exact oracle: constant blocks round-trip bit-exactly under
    * the all-8s quant table (see [[JQuant]]), so DuckDB replays the
    * stats from the cycled source bytes. */
  def mediaJpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => encodeJpegPayload(id, text) })
      .mapPartitions(_.map { case (id, p) => decodeJpeg(id, p) })
      .toDF()
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_pixels").as("total_pixels"),
        round(avg("mean_px"), 4).as("avg_pixel"),
        sum("ok").as("n_ok"))
  }

  // ---- video analogue: multi-frame payloads, frame sampling, resize ----

  case class FrameFeatures(doc_id: Long, n_frames: Int, n_sampled: Int,
                           mean_sampled: Double, mean_resized: Double)

  /** "Video" = K concatenated P6 frames (K = 1 + doc_id % 4), each frame
    * the doc's PPM from [[encodePpm]]. */
  private def encodeFrames(id: Long, tb: Array[Byte]): (Long, Array[Byte]) = {
    val one = encodePpm(id, tb).payload
    val k = 1 + (id % 4).toInt
    val out = new Array[Byte](one.length * k)
    var f = 0
    while (f < k) { System.arraycopy(one, 0, out, f * one.length, one.length); f += 1 }
    (id, out)
  }

  /** Frame-sample (every 2nd frame, starting at 0) and resize (x2
    * nearest-neighbor decimation: pixels at even (x, y)) — both computed
    * from a REAL parse of each concatenated P6 frame. */
  private def decodeFrames(id: Long, p: Array[Byte]): FrameFeatures = {
    var off = 0
    var frame = 0
    var sampled = 0
    var sumAll = 0L; var nAll = 0L
    var sumRz = 0L; var nRz = 0L
    while (off < p.length) {
      require(p(off) == 'P' && p(off + 1) == '6', "not a P6 frame")
      var i = off + 2
      def nextInt(): Int = {
        while (Character.isWhitespace(p(i))) i += 1
        var v = 0
        while (!Character.isWhitespace(p(i))) { v = v * 10 + (p(i) - '0'); i += 1 }
        v
      }
      val w = nextInt(); val h = nextInt(); nextInt() // maxval
      i += 1
      if (frame % 2 == 0) { // frame sampling: keep even frames
        sampled += 1
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val base = i + (y * w + x) * 3
            val px = (p(base) & 0xFF) + (p(base + 1) & 0xFF) + (p(base + 2) & 0xFF)
            sumAll += px; nAll += 3
            if (x % 2 == 0 && y % 2 == 0) { sumRz += px; nRz += 3 }
            x += 1
          }
          y += 1
        }
      }
      off = i + w * h * 3
      frame += 1
    }
    FrameFeatures(id, frame, sampled,
      if (nAll == 0) 0.0 else sumAll.toDouble / nAll,
      if (nRz == 0) 0.0 else sumRz.toDouble / nRz)
  }

  /** Frame-sampling + resize feature extraction over multi-frame
    * payloads — same batched map-side shape as [[mediaFeatures]]. */
  def mediaFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // same empty-doc pad convention as encodeBatch
        val raw = text.getBytes("UTF-8")
        encodeFrames(id, if (raw.isEmpty) Array[Byte](' '.toByte) else raw)
      })
      .mapPartitions(_.map { case (id, p) => decodeFrames(id, p) })
      .toDF()
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_frames").as("total_frames"),
        sum("n_sampled").as("total_sampled"),
        round(avg("mean_sampled"), 4).as("avg_sampled"),
        round(avg("mean_resized"), 4).as("avg_resized"))
  }

  /** Encode each doc's bytes as a real PPM/WAV binary, run the batched
    * header-parsing decode, aggregate per-format feature stats. */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(encodeBatch)
    media
      .mapPartitions(decodeBatch)
      .toDF()
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        sum("n_units").as("total_units"),
        round(avg("mean_unit"), 4).as("avg_unit"))
      .orderBy("format")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_features" -> (mediaFeatures _),
    "media_frames" -> (mediaFrames _),
    "media_png" -> (mediaPng _),
    "media_jpeg" -> (mediaJpeg _))

  /** The oracle replays the true pixel/sample statistics from the same
    * source bytes: PPM pixels are the doc's bytes cycled over w*h*3,
    * WAV samples are LE signed 16-bit byte pairs; header sizes are
    * reproduced arithmetically ("P6\n8 <h>\n255\n" = 10 + digits(h);
    * WAV = 44). Documents are ASCII, so ascii(char) = utf8 byte. */
  val oracles: Map[String, String] = Map(
    // lossy codec, exact oracle: the gate payload's constant 8x8 blocks
    // round-trip bit-exactly (see mediaJpeg), so pixel stats replay from
    // the cycled source bytes — nb blocks of 64 pixels, block b = byte
    // (b % len), so the per-doc mean is the mean over the first nb
    // cycled bytes
    "media_jpeg" ->
      """WITH p AS (
           SELECT doc_id, coalesce(nullif(text, ''), ' ') AS text
           FROM documents),
         m AS (
           SELECT doc_id, string_split(text, '') AS cs,
             octet_length(CAST(text AS BLOB)) AS len,
             greatest(1, octet_length(CAST(text AS BLOB)) // 8) AS nb
           FROM p),
         f AS (
           SELECT doc_id, 64 * nb AS npx,
             list_avg(list_transform(range(nb),
               b -> ascii(cs[1 + (b % len)]))) AS mean_px
           FROM m)
         SELECT count(*) AS n_media,
           CAST(sum(npx) AS BIGINT) AS total_pixels,
           round(avg(mean_px), 4) AS avg_pixel,
           CAST(count(*) AS BIGINT) AS n_ok
         FROM f""",
    "media_png" ->
      """WITH p AS (
           SELECT doc_id, coalesce(nullif(text, ''), ' ') AS text
           FROM documents),
         m AS (
           SELECT doc_id, string_split(text, '') AS cs,
             octet_length(CAST(text AS BLOB)) AS len,
             greatest(1, octet_length(CAST(text AS BLOB)) // 8) AS h
           FROM p),
         f AS (
           SELECT doc_id, 8 * h AS npx,
             list_avg(list_transform(range(8 * h),
               i -> ascii(cs[1 + (i % len)]))) AS mean_px
           FROM m)
         SELECT count(*) AS n_media,
           CAST(sum(npx) AS BIGINT) AS total_pixels,
           round(avg(mean_px), 4) AS avg_pixel,
           CAST(count(*) AS BIGINT) AS n_crc_ok
         FROM f""",
    "media_frames" ->
      """WITH p AS (
           SELECT doc_id, coalesce(nullif(text, ''), ' ') AS text
           FROM documents),
         m AS (
           SELECT doc_id, string_split(text, '') AS cs,
             octet_length(CAST(text AS BLOB)) AS len,
             greatest(1, octet_length(CAST(text AS BLOB)) // 24) AS h,
             1 + doc_id % 4 AS k
           FROM p),
         f AS (
           SELECT doc_id, k, (k + 1) // 2 AS sampled,
             list_avg(list_transform(range(24 * h),
               i -> ascii(cs[1 + (i % len)]))) AS mean_sampled,
             list_avg(list_transform(
               flatten(flatten(list_transform(range(0, h, 2), y ->
                 list_transform([0, 2, 4, 6], x ->
                   list_transform(range(3), c -> (y * 8 + x) * 3 + c))))),
               i -> ascii(cs[1 + (i % len)]))) AS mean_resized
           FROM m)
         SELECT count(*) AS n_media, CAST(sum(k) AS BIGINT) AS total_frames,
           CAST(sum(sampled) AS BIGINT) AS total_sampled,
           round(avg(mean_sampled), 4) AS avg_sampled,
           round(avg(mean_resized), 4) AS avg_resized
         FROM f""",
    "media_features" ->
      """WITH p AS (
           SELECT doc_id, coalesce(nullif(text, ''), ' ') AS text
           FROM documents),
         m AS (
           SELECT doc_id, string_split(text, '') AS cs,
             octet_length(CAST(text AS BLOB)) AS len
           FROM p),
         ppm AS (
           SELECT doc_id, len, cs,
             greatest(1, len // 24) AS h
           FROM m WHERE doc_id % 2 = 0),
         ppm_f AS (
           SELECT 'ppm' AS format,
             10 + length(CAST(h AS VARCHAR)) + 24 * h AS n_bytes,
             8 * h AS n_units,
             list_avg(list_transform(range(24 * h),
               i -> ascii(cs[1 + (i % len)]))) AS mean_unit
           FROM ppm),
         wav AS (
           SELECT doc_id, len, cs, len // 2 AS n FROM m WHERE doc_id % 2 = 1),
         wav_f AS (
           SELECT 'wav' AS format,
             44 + 2 * n AS n_bytes,
             n AS n_units,
             coalesce(list_avg(list_transform(
               list_transform(range(n),
                 j -> ascii(cs[2*j + 1]) + 256 * ascii(cs[2*j + 2])),
               v -> abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END))),
               0.0) AS mean_unit
           FROM wav),
         allf AS (SELECT * FROM ppm_f UNION ALL SELECT * FROM wav_f)
         SELECT format, count(*) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_units) AS BIGINT) AS total_units,
           round(avg(mean_unit), 4) AS avg_unit
         FROM allf GROUP BY format ORDER BY format""")
}
