package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed by per-partition operators.
  *
  * The decode kernel ([[decodeKernel]]) parses REAL container headers in
  * pure JVM code — PNG IHDR, JPEG SOF, GIF logical screen + frame walk,
  * and RIFF/WAVE fmt/data — and PAYLOADS really decode for PNG (r11:
  * [[decodePngPixels]], Inflater + full None/Sub/Up/Average/Paeth
  * defilter + palette expansion), GIF (r12: [[decodeGifPixels]],
  * pure-JVM LZW + interlace + palette) and WAV PCM (r13:
  * [[decodeWavSamples]], 16-bit LE / 8-bit unsigned linear PCM), zero
  * new dependencies, feeding the real 8x8-luma aHash, the PCM envelope
  * hash and pixel/amplitude histograms. The clearly marked
  * deterministic fake remains ONLY for baseline-JPEG payloads — JPEG
  * entropy decode needs a codec this environment can't ship, and that
  * is the ONE permanent FFI boundary, closed by design; swapping a
  * real codec into that seam changes no dataflow. The Spark-side
  * plumbing (schema, batch iteration, partition-local processing,
  * metadata structs) is real and tested either way.
  *
  * Scale notes: blobs never shuffle — `decodeMeta` is mapPartitions over
  * the scan, metadata-only columns flow downstream. A real pipeline
  * would write decoded features back partitioned by (media_type, date).
  */
object Multimodal {

  case class MediaMeta(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: Long)

  /** Decode kernel. Real container headers are parsed honestly in pure
    * JVM code — PNG IHDR and JPEG SOF (width × height), GIF logical
    * screen + image-descriptor frame count, and RIFF/WAVE fmt + data
    * chunks (sample rate as `width`, channels as `height`, sample
    * frames as `n_frames`) — so genuine media blobs report their true
    * dimensions with zero new dependencies. Payloads that are none of
    * these (the synthetic corpus' UTF-8 stand-ins; real pipelines:
    * pixel/sample decoding needs codecs we can't ship — that FFI seam
    * stays stubbed) fall back to the deterministic fake, which keeps
    * the DuckDB oracle replayable: text bytes can never start with any
    * of the magics. The checksum is payload-derived in all branches. */
  private[graft] def decodeKernel(docId: Long, mediaType: String,
      bytes: Array[Byte]): MediaMeta = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum = (sum * 131 + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    val len = bytes.length.toLong
    parsePngHeader(bytes).orElse(parseWavHeader(bytes))
        .orElse(parseJpegHeader(bytes)).orElse(parseGifHeader(bytes)) match {
      case Some((w, h, frames)) =>
        MediaMeta(docId, mediaType, len, w, h, frames, sum)
      case None =>
        // deterministic fake for non-media payloads (documented stub)
        MediaMeta(docId, mediaType,
          byte_len = len,
          width = (len % 640).toInt + 1,
          height = (len % 480).toInt + 1,
          n_frames = if (mediaType == "video") (len % 24).toInt + 1 else 1,
          checksum = sum)
    }
  }

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def tagAt(b: Array[Byte], o: Int, tag: String): Boolean =
    (0 until 4).forall(k => (b(o + k) & 0xff) == tag.charAt(k))

  /** PNG: 8-byte signature, then the mandatory first chunk IHDR with
    * big-endian width/height at offsets 16/20 (PNG spec §5.2, §11.2.2). */
  private[graft] def parsePngHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length < 24) return None
    if (!(0 until 8).forall(k => (b(k) & 0xff) == sig(k))) return None
    if (!tagAt(b, 12, "IHDR")) return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some((w.toInt, h.toInt, 1))
  }

  /** JPEG: SOI marker, then the segment walk to the first frame header
    * (SOF0/1/2/9/10 — baseline/extended/progressive, sequential or
    * arithmetic), whose payload carries height then width as
    * big-endian 16-bit at offsets +3/+5 (ITU T.81 §B.2.2). Marker
    * padding (0xFF fill) is skipped; standalone markers (RST/TEM) have
    * no length field. */
  private[graft] def parseJpegHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 4) return None
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None // SOI
    var off = 2
    while (off + 4 <= b.length) {
      if ((b(off) & 0xff) != 0xff) return None // desynced: not a marker
      var m = off + 1
      while (m < b.length && (b(m) & 0xff) == 0xff) m += 1 // fill bytes
      if (m >= b.length) return None
      val marker = b(m) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS: no SOF seen
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        off = m + 1 // TEM / RSTn: standalone, no length field
      }
      else {
        if (m + 3 > b.length) return None
        val len = ((b(m + 1) & 0xff) << 8) | (b(m + 2) & 0xff)
        if (len < 2) return None
        val isSof = Set(0xc0, 0xc1, 0xc2, 0xc9, 0xca).contains(marker)
        if (isSof) {
          if (m + 8 > b.length) return None
          val h = ((b(m + 4) & 0xff) << 8) | (b(m + 5) & 0xff)
          val w = ((b(m + 6) & 0xff) << 8) | (b(m + 7) & 0xff)
          return if (w > 0 && h > 0) Some((w, h, 1)) else None
        }
        off = m + 1 + len
      }
    }
    None
  }

  /** WAV: RIFF/WAVE container; walks the chunk list for `fmt ` (PCM
    * layout: channels @+2 LE16, sample rate @+4 LE32, block align
    * @+12 LE16) and `data` (payload size -> sample-frame count).
    * Returns (sample_rate, channels, n_sample_frames). */
  private[graft] def parseWavHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 12) return None
    if (!tagAt(b, 0, "RIFF") || !tagAt(b, 8, "WAVE")) return None
    var off = 12
    var rate = -1L; var channels = -1; var blockAlign = -1; var dataLen = -1L
    while (off + 8 <= b.length && (rate < 0 || dataLen < 0)) {
      val size = le32(b, off + 4)
      // the chunk's own declared size must cover the 16 PCM fmt fields —
      // otherwise channels/rate/blockAlign would be read from the NEXT
      // chunk's bytes (plausible-looking garbage instead of the
      // deterministic-fake fallback a malformed header should get)
      if (tagAt(b, off, "fmt ") && size >= 16 && off + 8 + 16 <= b.length) {
        channels = le16(b, off + 10)
        rate = le32(b, off + 12)
        blockAlign = le16(b, off + 20)
      } else if (tagAt(b, off, "data")) {
        dataLen = math.min(size, (b.length - off - 8).toLong)
      }
      // chunks are word-aligned (odd sizes carry a pad byte); a
      // malformed 32-bit size can't overflow the cursor: clamp to end
      val next = off.toLong + 8L + size + (size & 1L)
      off = if (next > b.length) b.length else next.toInt
    }
    // rate is a raw LE32: values past Int.MaxValue would wrap negative
    // through toInt — treat as malformed (no real rate is > 2^31 Hz)
    if (rate <= 0 || rate > Int.MaxValue || channels <= 0 || blockAlign <= 0) None
    else Some((rate.toInt, channels,
      if (dataLen < 0) 0 else (dataLen / blockAlign).toInt))
  }

  /** GIF: 6-byte GIF87a/GIF89a signature, LE16 logical-screen
    * width/height at offsets 6/8 (GIF89a spec §18); `n_frames` counts
    * image descriptors (0x2C) found by the BLOCK walk — extensions
    * (0x21) and image data are length-prefixed sub-block chains, so the
    * walk skips payload bytes and can never mistake data for an
    * introducer. STRICT accept: the walk must reach the trailer (0x3B)
    * in-bounds with >= 1 image descriptor, every sub-block chain landing
    * exactly on its 0x00 terminator — the GIF magic is pure printable
    * ASCII (unlike PNG's 0x89 or JPEG's 0xFF), so ordinary document
    * text CAN start with "GIF89a"; text can't satisfy the structural
    * walk (no NUL terminators, no exact trailer), which keeps the
    * decode-stats oracle's fake-branch replay sound. Desynced or
    * truncated streams are rejected to the fake branch for the same
    * reason; the walk advances >= 1 byte per step, so it terminates. */
  private[graft] def parseGifHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 13) return None
    val sig = "GIF8"
    if (!(0 until 4).forall(k => (b(k) & 0xff) == sig.charAt(k))) return None
    val ver = b(5) & 0xff
    if (((b(4) & 0xff) != '7' && (b(4) & 0xff) != '9') || ver != 'a') return None
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w <= 0 || h <= 0) return None
    val packed = b(10) & 0xff
    // skip the global color table when the flag bit is set: 3 * 2^(n+1)
    var off = 13 + (if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0)
    // walks a sub-block chain; -1 when the chain runs past the buffer
    // (a truncated/non-GIF payload) instead of landing on a terminator
    def skipSubBlocks(start: Int): Int = {
      var o = start
      while (o < b.length && (b(o) & 0xff) != 0) o += 1 + (b(o) & 0xff)
      if (o >= b.length) -1 else o + 1 // past the 0x00 terminator
    }
    var frames = 0
    var trailer = false
    var bad = false
    while (!trailer && !bad && off < b.length) {
      (b(off) & 0xff) match {
        case 0x3b => trailer = true
        case 0x21 =>
          off = skipSubBlocks(off + 2) // introducer + label
          if (off < 0) bad = true
        case 0x2c =>
          if (off + 10 > b.length) bad = true
          else {
            frames += 1
            val lp = b(off + 9) & 0xff
            val lct = if ((lp & 0x80) != 0) 3 * (1 << ((lp & 7) + 1)) else 0
            // descriptor (10) + local color table + LZW min-code byte
            off = skipSubBlocks(off + 10 + lct + 1)
            if (off < 0) bad = true
          }
        case _ => bad = true // desynced: not a GIF block stream
      }
    }
    if (trailer && !bad && frames >= 1) Some((w, h, frames)) else None
  }

  private[graft] case class PngPixels(
      width: Int, height: Int, channels: Int, pixels: Array[Byte])

  /** REAL pixel decode for the common PNG profile — 8-bit depth,
    * non-interlaced, color types 0 (gray) / 2 (RGB) / 3 (palette,
    * expanded to RGB) / 4 (gray+alpha) / 6 (RGBA): chunk walk collects
    * IDAT, `java.util.zip.Inflater` inflates the scanline stream, and
    * the five PNG row filters (None/Sub/Up/Average/Paeth, spec §9) are
    * reversed in one pass. No new dependency; CRCs are not verified
    * (parse honesty, not integrity audit). Anything outside the profile
    * — 16-bit, interlaced, truncated or malformed streams, or a
    * decoded-size past the 256 MB bomb guard — returns None and the
    * caller falls back to the documented deterministic fake, exactly
    * like the header parsers. This closes the pixel half of the codec
    * seam for PNG; JPEG/GIF/WAV payload decode still needs external
    * codecs (reference analog: the external `marker_single` boundary,
    * /root/reference/src/utils/document_processing.py:194-243). */
  private[graft] def decodePngPixels(b: Array[Byte]): Option[PngPixels] = {
    if (parsePngHeader(b).isEmpty || b.length < 29) return None
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (bitDepth != 8 || interlace != 0) return None
    val channels = colorType match {
      case 0 | 3 => 1
      case 2 => 3
      case 4 => 2
      case 6 => 4
      case _ => return None
    }
    val w = be32(b, 16).toInt
    val h = be32(b, 20).toInt
    if (w.toLong * h * channels + h > (1L << 28)) return None
    var off = 8
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var done = false
    while (!done && off + 8 <= b.length) {
      val len = be32(b, off).toInt
      if (len < 0 || off + 12 + len > b.length) return None
      if (tagAt(b, off + 4, "IDAT")) idat.write(b, off + 8, len)
      else if (tagAt(b, off + 4, "PLTE"))
        plte = java.util.Arrays.copyOfRange(b, off + 8, off + 8 + len)
      else if (tagAt(b, off + 4, "IEND")) done = true
      off += 12 + len
    }
    if (!done || idat.size == 0) return None
    if (colorType == 3 && (plte == null || plte.length % 3 != 0)) return None
    val bpr = w * channels // bytes per row at depth 8
    val raw = new Array[Byte]((bpr + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    if (got < raw.length) return None
    val out = new Array[Byte](bpr * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val ft = raw(y * (bpr + 1)) & 0xff
      if (ft > 4) return None
      val ro = y * (bpr + 1) + 1
      val oo = y * bpr
      var x = 0
      while (x < bpr) {
        val rv = raw(ro + x) & 0xff
        val a = if (x >= bpp) out(oo + x - bpp) & 0xff else 0
        val u = if (y > 0) out(oo - bpr + x) & 0xff else 0
        val v = ft match {
          case 0 => rv
          case 1 => rv + a
          case 2 => rv + u
          case 3 => rv + ((a + u) >> 1)
          case _ => // Paeth
            val c = if (y > 0 && x >= bpp) out(oo - bpr + x - bpp) & 0xff else 0
            val p = a + u - c
            val pa = math.abs(p - a); val pb = math.abs(p - u)
            val pc = math.abs(p - c)
            rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) u else c)
        }
        out(oo + x) = v.toByte
        x += 1
      }
      y += 1
    }
    if (colorType == 3) {
      val px = new Array[Byte](w * h * 3)
      var i = 0
      while (i < w * h) {
        val idx = out(i) & 0xff
        if (idx * 3 + 2 >= plte.length) return None
        px(3 * i) = plte(3 * idx)
        px(3 * i + 1) = plte(3 * idx + 1)
        px(3 * i + 2) = plte(3 * idx + 2)
        i += 1
      }
      Some(PngPixels(w, h, 3, px))
    } else Some(PngPixels(w, h, channels, out))
  }

  /** REAL pixel decode for GIF (first frame): header + block walk (the
    * [[parseGifHeader]] structural strictness — printable magic means
    * text CAN start with "GIF89a", so every structural check rejects to
    * the fake branch), local-or-global palette, pure-JVM LZW
    * (variable-width codes 3..12 bits, LSB-first bit packing, clear /
    * end-of-information codes, the KwKwK self-reference case — GIF89a
    * spec appendix F), optional 4-pass interlace reorder, palette
    * expansion to RGB. Rejects (None) on any malformed stream: bad
    * codes, over/underfull index planes, sub-block desync, palette
    * overrun, or dimensions past the same 256 MB bomb guard PNG uses.
    * Same no-new-dependency discipline as the PNG Inflate path; with
    * [[decodeWavSamples]] (r13) the deterministic fake now remains
    * ONLY for JPEG payloads — the one permanent external-codec FFI
    * boundary (reference analog:
    * /root/reference/src/utils/document_processing.py:194-243). */
  private[graft] def decodeGifPixels(b: Array[Byte]): Option[PngPixels] = {
    if (parseGifHeader(b).isEmpty) return None // full structural walk
    val w0 = le16(b, 6); val h0 = le16(b, 8)
    if (w0.toLong * h0 * 3 > (1L << 28)) return None
    val packed = b(10) & 0xff
    val gctLen = if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0
    val gct = if (gctLen > 0) {
      if (13 + gctLen > b.length) return None
      java.util.Arrays.copyOfRange(b, 13, 13 + gctLen)
    } else null
    var off = 13 + gctLen
    // walk to the FIRST image descriptor (parseGifHeader proved the
    // stream well-formed through the trailer, so bounds hold)
    while (off < b.length && (b(off) & 0xff) == 0x21) {
      var o = off + 2
      while ((b(o) & 0xff) != 0) o += 1 + (b(o) & 0xff)
      off = o + 1
    }
    if (off >= b.length || (b(off) & 0xff) != 0x2c) return None
    val fw = le16(b, off + 5); val fh = le16(b, off + 7)
    val lp = b(off + 9) & 0xff
    if (fw <= 0 || fh <= 0) return None
    val interlaced = (lp & 0x40) != 0
    val lctLen = if ((lp & 0x80) != 0) 3 * (1 << ((lp & 7) + 1)) else 0
    val pal = if (lctLen > 0)
      java.util.Arrays.copyOfRange(b, off + 10, off + 10 + lctLen)
    else gct
    if (pal == null) return None
    off += 10 + lctLen
    val mcs = b(off) & 0xff
    if (mcs < 2 || mcs > 8) return None
    off += 1
    // concatenate the LZW sub-block chain
    val data = new java.io.ByteArrayOutputStream()
    while ((b(off) & 0xff) != 0) {
      val n = b(off) & 0xff
      data.write(b, off + 1, n)
      off += 1 + n
    }
    val bytes = data.toByteArray
    // LZW decode (spec appendix F): prefix/suffix dictionary arrays,
    // 4096 max codes, width grows at 2^width until 12 bits
    val clear = 1 << mcs
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](fw * fh)
    var nOut = 0
    var free = clear + 2
    var width = mcs + 1
    var oldCode = -1
    var bitPos = 0
    val nBits = bytes.length * 8
    var done = false
    while (!done) {
      if (bitPos + width > nBits) return None // ran out before EOI
      // LSB-first variable-width read
      var code = 0
      var k = 0
      while (k < width) {
        val bit = bitPos + k
        if ((bytes(bit >> 3) & (1 << (bit & 7))) != 0) code |= 1 << k
        k += 1
      }
      bitPos += width
      if (code == clear) {
        free = clear + 2; width = mcs + 1; oldCode = -1
      } else if (code == eoi) {
        done = true
      } else {
        if (code > free || (code == free && oldCode < 0)) return None
        var sp = 0
        var cur = code
        if (code == free) { // KwKwK: emit old + first(old)
          if (oldCode < 0) return None
          stack(sp) = 0; sp += 1 // placeholder for first(old), patched below
          cur = oldCode
        }
        while (cur >= clear + 2) { stack(sp) = suffix(cur); sp += 1; cur = prefix(cur) }
        val first = cur.toByte // root code = literal palette index
        stack(sp) = first; sp += 1
        if (code == free) stack(0) = first
        if (nOut + sp > out.length) return None // overfull plane
        var i = sp - 1
        while (i >= 0) { out(nOut) = stack(i); nOut += 1; i -= 1 }
        if (oldCode >= 0 && free < 4096) {
          prefix(free) = oldCode; suffix(free) = first; free += 1
          if (free < 4096 && (free & (free - 1)) == 0 && width < 12) width += 1
        }
        oldCode = code
      }
      if (nOut == out.length && !done) {
        // plane full: accept EOI or exact stream end (fewer than
        // `width` bits of zero padding left), optionally preceded by
        // CLEAR codes — spec-legal encoders may emit a dictionary
        // reset between the last pixel code and EOI (each CLEAR drops
        // the code width back to mcs+1); any OTHER code here means a
        // desynced/truncated stream
        var w = width
        var bp = bitPos
        var ok = false
        var halt = false
        while (!halt) {
          if (bp + w > nBits) { ok = true; halt = true } // stream end
          else {
            var next = 0
            var kk = 0
            while (kk < w) {
              val bit = bp + kk
              if ((bytes(bit >> 3) & (1 << (bit & 7))) != 0) next |= 1 << kk
              kk += 1
            }
            bp += w
            if (next == eoi) { ok = true; halt = true }
            else if (next == clear) w = mcs + 1
            else halt = true
          }
        }
        if (!ok) return None
        done = true
      }
    }
    if (nOut < out.length) return None // underfull plane
    val plane =
      if (!interlaced) out
      else {
        // 4-pass interlace: rows 0,8,16.. then 4,12.. then 2,6.. then 1,3..
        val re = new Array[Byte](out.length)
        var src = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < fh) {
            System.arraycopy(out, src * fw, re, y * fw, fw)
            src += 1; y += step
          }
        }
        re
      }
    val nColors = pal.length / 3
    val px = new Array[Byte](fw * fh * 3)
    var i = 0
    while (i < fw * fh) {
      val idx = plane(i) & 0xff
      if (idx >= nColors) return None
      px(3 * i) = pal(3 * idx)
      px(3 * i + 1) = pal(3 * idx + 1)
      px(3 * i + 2) = pal(3 * idx + 2)
      i += 1
    }
    Some(PngPixels(fw, fh, 3, px))
  }

  /** First-succeeding pixel decoder across the pure-JVM codecs (PNG
    * Inflate, GIF LZW) — the one seam the pixel consumers call. */
  private[graft] def decodePixels(b: Array[Byte]): Option[PngPixels] =
    decodePngPixels(b).orElse(decodeGifPixels(b))

  /** REAL sample decode for WAV PCM (r13 — the third and last pure-JVM
    * payload codec after PNG and GIF): RIFF/WAVE chunk walk, linear PCM
    * only (`fmt` audio format tag 1), 16-bit little-endian signed or
    * 8-bit unsigned (widened to signed 16: (v − 128) << 8, the PCM
    * convention), interleaved channels returned as-is. STRICT accept,
    * same discipline as the pixel decoders — any of these rejects to
    * the deterministic-fake branch: non-PCM format tag, bits outside
    * {8, 16}, a declared `data` size the buffer does not fully contain,
    * a data size not a multiple of the frame stride, or a missing
    * fmt/data chunk. With this, the deterministic fake remains ONLY for
    * JPEG payloads — baseline JPEG entropy decode is the one PERMANENT
    * FFI seam (reference analog: the external `marker_single` boundary,
    * /root/reference/src/utils/document_processing.py:194-243). */
  private[graft] def decodeWavSamples(b: Array[Byte]): Option[Array[Short]] = {
    if (parseWavHeader(b).isEmpty) return None // structural walk + rate/align checks
    var off = 12
    var fmtTag = -1; var channels = -1; var bits = -1; var blockAlign = -1
    var dataOff = -1; var dataLen = -1L
    while (off + 8 <= b.length && (fmtTag < 0 || dataOff < 0)) {
      val size = le32(b, off + 4)
      if (tagAt(b, off, "fmt ") && size >= 16 && off + 8 + 16 <= b.length) {
        fmtTag = le16(b, off + 8)
        channels = le16(b, off + 10)
        bits = le16(b, off + 22)
        blockAlign = le16(b, off + 20)
      } else if (tagAt(b, off, "data")) {
        dataOff = off + 8
        dataLen = size
      }
      val next = off.toLong + 8L + size + (size & 1L)
      off = if (next > b.length) b.length else next.toInt
    }
    if (fmtTag != 1 || channels <= 0 || dataOff < 0) return None
    if (bits != 8 && bits != 16) return None
    val stride = channels * (bits / 8)
    if (blockAlign != stride) return None
    // the declared payload must be FULLY present and frame-aligned —
    // a truncated data chunk decodes to silence-padded garbage in
    // lenient readers; we reject instead
    if (dataLen < 0 || dataOff + dataLen > b.length || dataLen % stride != 0)
      return None
    val nSamples = (dataLen / (bits / 8)).toInt
    val out = new Array[Short](nSamples)
    var i = 0
    if (bits == 16) {
      while (i < nSamples) {
        out(i) = ((b(dataOff + 2 * i) & 0xff) |
          (b(dataOff + 2 * i + 1) << 8)).toShort
        i += 1
      }
    } else {
      while (i < nSamples) {
        out(i) = (((b(dataOff + i) & 0xff) - 128) << 8).toShort
        i += 1
      }
    }
    Some(out)
  }

  /** 64-cell mean-|amplitude| envelope of decoded PCM samples, scaled
    * to bytes — the audio analog of [[lumaGrid8]]: cell c averages the
    * absolute amplitude of its sample span, mapped to 0..255 by >> 7
    * (max |s16| = 32768 → 256). Feeds the same [[aHashBytes]]
    * threshold, so a WAV payload gets a REAL envelope hash with the
    * identical banding/verification downstream. Empty sample arrays
    * return the all-zero thumbnail (hashes to 0 — no distribution). */
  private[graft] def envelopeGrid64(samples: Array[Short]): Array[Byte] = {
    val cells = new Array[Byte](64)
    val n = samples.length
    if (n == 0) return cells
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val c = (i.toLong * 64 / n).toInt
      sums(c) += math.abs(samples(i).toInt)
      cnts(c) += 1
      i += 1
    }
    var c = 0
    while (c < 64) {
      if (cnts(c) > 0) cells(c) = math.min(255L, (sums(c) / cnts(c)) >> 7).toByte
      c += 1
    }
    cells
  }

  /** Amplitude bytes for the feature histogram: each PCM sample mapped
    * to its unsigned-byte magnitude class ((s + 32768) >> 8), so
    * [[extractFeatures]]' 8-bucket histogram becomes a REAL amplitude
    * distribution (bucket 3/4 straddle silence; loud audio fills the
    * tails) instead of a histogram of container bytes. */
  private[graft] def amplitudeBytes(samples: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](samples.length)
    var i = 0
    while (i < samples.length) {
      out(i) = (((samples(i).toInt + 32768) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** 8x8 mean-luma thumbnail of DECODED pixels — the real aHash grid:
    * integer Rec.601 luma per pixel (gray channel for types 0/4),
    * averaged over each cell's pixel block. */
  private[graft] def lumaGrid8(p: PngPixels): Array[Byte] = {
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var y = 0
    while (y < p.height) {
      val gy = (y.toLong * 8 / p.height).toInt
      var x = 0
      while (x < p.width) {
        val gx = (x.toLong * 8 / p.width).toInt
        val o = (y * p.width + x) * p.channels
        val l =
          if (p.channels < 3) p.pixels(o) & 0xff
          else ((p.pixels(o) & 0xff) * 299 + (p.pixels(o + 1) & 0xff) * 587 +
            (p.pixels(o + 2) & 0xff) * 114) / 1000
        val s = gy * 8 + gx
        sums(s) += l
        cnts(s) += 1
        x += 1
      }
      y += 1
    }
    val g = new Array[Byte](64)
    var k = 0
    while (k < 64) {
      g(k) = (if (cnts(k) > 0) (sums(k) / cnts(k)).toInt else 0).toByte
      k += 1
    }
    g
  }

  /** documents-as-blobs: models a `binary` media column (UTF-8 bytes of the
    * text stand in for real media payloads). */
  def asBlobs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col("text"), "UTF-8").as("blob"))

  /** Partition-local decode: one iterator pass per partition, typed output.
    * (The Scala analog of a Pandas `mapInPandas` batch UDF.) */
  def decodeMeta(spark: SparkSession, blobs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("media_type"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, bytes) => decodeKernel(id, mt, bytes) })
  }

  /** Frame sampling for video blobs: every `stride`-th frame index of the
    * stub-decoded frame count (explode → one row per sampled frame). */
  def sampleFrames(spark: SparkSession, meta: Dataset[MediaMeta], stride: Int): DataFrame = {
    meta.toDF()
      // n_frames >= 1 guard: a zero-frame decode (e.g. a WAV header
      // with no data chunk) must yield zero rows, not crash the job on
      // sequence(0, -1) — the repetition-query discipline
      .filter(col("media_type") === "video" && col("n_frames") >= 1)
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"))
  }

  /** Aspect-preserving resize planning (column arithmetic over the decoded
    * metadata — a real resize kernel would consume this plan inside the
    * same partition-local pass as [[decodeMeta]]): fit (width, height)
    * into (maxW, maxH), never upscale. */
  def resizePlan(meta: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"), lit(1.0))
    meta
      .withColumn("scale", scale)
      .withColumn("out_w", greatest(lit(1), floor(col("width") * col("scale")))
        .cast("int"))
      .withColumn("out_h", greatest(lit(1), floor(col("height") * col("scale")))
        .cast("int"))
      .withColumn("downscaled", col("scale") < 1.0)
  }

  /** STUB perceptual hash (aHash): 64 bits, one per blob segment, set
    * when the segment's mean byte value exceeds the whole-blob mean —
    * the average-hash family over the stand-in payload (a real pipeline
    * computes it over the decoded 8x8 luma grid; the banding, pairing
    * and Hamming verification downstream are codec-independent).
    * Integer sums + double division only, so the DuckDB replay is
    * bit-exact. Empty blobs hash to 0 (no distribution to threshold). */
  private[graft] def aHashBytes(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < n) {
      val s = (i.toLong * 64 / n).toInt
      val v = bytes(i) & 0xff
      sums(s) += v; cnts(s) += 1; tot += v; i += 1
    }
    val m = tot.toDouble / n
    var h = 0L
    var k = 0
    while (k < 64) {
      if (cnts(k) > 0 && sums(k).toDouble / cnts(k) > m) h |= (1L << k)
      k += 1
    }
    h
  }

  /** Partition-local perceptual hashing (the [[decodeMeta]] iterator
    * contract): a PNG/GIF payload in the supported profile is REALLY
    * decoded ([[decodePixels]]) and hashed over its 8x8 mean-luma grid
    * ([[lumaGrid8]]) — the genuine average-hash; a WAV PCM payload is
    * decoded ([[decodeWavSamples]]) and hashed over its 64-cell
    * amplitude envelope ([[envelopeGrid64]]). Everything else takes
    * the documented deterministic fake (64-cell XXH64 token-slot
    * thumbnail of the payload — the synthetic corpus' UTF-8 stand-ins
    * always land here: 0x89 cannot begin UTF-8 text, which is what
    * keeps the DuckDB replay sound), then [[aHashBytes]] thresholds the
    * cells either way. Hashed slots, not a vocabulary: nothing here
    * needs a broadcast or grows with the corpus, and near-identical
    * payloads land within a few bits. Blobs never shuffle; 8 bytes per
    * media flow downstream. */
  def perceptualHashes(spark: SparkSession, blobs: DataFrame): DataFrame = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("media_type"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, b) =>
        val thumb = decodePixels(b).map(lumaGrid8)
            .orElse(decodeWavSamples(b).map(envelopeGrid64)) match {
          case Some(grid) => grid
          case None =>
            val cells = new Array[Long](64)
            graft.functions.Tokenizer.of(org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
              .foreach(t => cells((graft.functions.HashKernel.xxh64(t) & 63L).toInt) += 1)
            cells.map(c => math.min(255L, c * 16L).toByte)
        }
        (id, mt, aHashBytes(thumb))
      })
      .toDF("doc_id", "media_type", "phash")
  }

  /** Perceptual near-duplicate pairs within a media type: 4x16-bit BAND
    * blocking on the hash (two media sharing any intact band become a
    * candidate), then exact popcount verification. For maxHamming <= 3
    * the blocking is EXACT by pigeonhole — <= 3 differing bits cannot
    * touch all 4 bands — so the banded plan equals the quadratic
    * all-pairs definition while only bucket collisions are ever joined
    * (the MinHash-LSH shape, at any corpus size). */
  def phashNearDups(spark: SparkSession, blobs: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4x16-bit banding is only exact (pigeonhole) for hamming <= 3")
    phashCandidates(spark, blobs).filter(col("hamming") <= maxHamming)
  }

  /** All band-colliding candidate pairs with their exact Hamming
    * distance, UNfiltered — the [[phashNearDups]] candidate stage
    * exposed for the distance histogram. Complete (pigeonhole) only at
    * hamming <= 3 with the 4x16-bit banding; rows beyond that are
    * as-observed collisions, which is exactly what a banded pipeline
    * sees at scale. */
  def phashCandidates(spark: SparkSession, blobs: DataFrame): DataFrame = {
    val bands = perceptualHashes(spark, blobs)
      .select(col("doc_id"), col("media_type"), col("phash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("phash"), 16 * b)
            .bitwiseAND(lit(0xFFFFL)).as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("media_type"), col("phash"),
        col("e.band").as("band"), col("e.bv").as("bv"))
    // PINNED shuffled-hash: `bands` is the RAW ×4 band explode of the
    // hash table — n-proportional with a fan-out-blind size estimate
    // (CatalogPlanLintSpec rule 4, the rel_edit_pairs class). Bucket
    // self-joins shuffle on (media_type, band, bv) at scale.
    val cand = bands.as("a").join(bands.as("b").hint("shuffle_hash"),
        col("a.media_type") === col("b.media_type") &&
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      features: Array[Double], // normalized 8-bucket byte histogram
      entropy: Double)

  /** Feature extraction — the shape of an embedding/fingerprint kernel
    * over a binary column: one partition-local pass computing a
    * normalized 8-bucket histogram + its entropy. For a PNG/GIF in the
    * supported profile the histogram runs over the DECODED PIXEL bytes
    * ([[decodePixels]] — real intensity distribution, verified
    * against hand-computed stats in MultimodalSpec); for a WAV PCM
    * payload it runs over DECODED SAMPLE amplitude classes
    * ([[amplitudeBytes]] — a real loudness distribution); any other payload
    * keeps the raw-byte histogram (the documented stand-in — a richer
    * extractor such as a CLIP embedding or mel spectrogram replaces the
    * loop body; the iterator/schema/partitioning contract is identical).
    *
    * Contract: features sum to 1 for non-empty inputs; an EMPTY blob
    * yields the all-zero vector with entropy 0 (there is no distribution
    * to normalize — fabricating a uniform one would be invented data). */
  def extractFeatures(spark: SparkSession, blobs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    blobs.select(col("doc_id"), col("media_type"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, blob) =>
        val bytes = decodePixels(blob).map(_.pixels)
          .orElse(decodeWavSamples(blob).map(amplitudeBytes))
          .getOrElse(blob)
        val counts = new Array[Double](8)
        var i = 0
        while (i < bytes.length) { counts((bytes(i) & 0xff) >> 5) += 1; i += 1 }
        val n = math.max(1, bytes.length).toDouble
        val feats = counts.map(_ / n)
        val entropy = -feats.filter(_ > 0).map(p => p * math.log(p)).sum
        MediaFeatures(id, mt, feats, entropy)
      })
  }
}
