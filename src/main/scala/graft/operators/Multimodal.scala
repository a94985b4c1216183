package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.ByteBuffer

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns with typed metadata — the
  * only layout that scales: bytes stay columnar/compressed in Parquet,
  * metadata is queryable without touching payloads, and decode happens
  * per partition with a per-partition decoder instance (the Scala
  * analog of `mapInPandas` batches).
  *
  * Codec tiers (all pure JVM, no media libraries):
  * - [[FormatProbe]]: REAL container-header parsing for
  *   PNG/JPEG/GIF/BMP/WAV (signature dispatch, JPEG SOF marker walk,
  *   RIFF chunk fields), driver-gated against minimal VALID files
  *   ([[MiniEncoder]]).
  * - [[PixelCodec]]: REAL pixel decode — grayscale PNG (inflate + all
  *   five scanline filters), 24bpp BMP, GIF incl. animated with
  *   partial-update COMPOSITING (genuine LZW, interlace, GCE
  *   transparency, disposal methods 1/2/3 over the logical-screen
  *   canvas), and baseline JPEG both grayscale and YCbCr COLOR
  *   ([[JpegCodec]]: huffman + dequant + IDCT + 4:4:4/4:2:2/4:2:0
  *   chroma upsample + RGB). [[WavCodec]]: REAL 16-bit PCM sample
  *   decode. Each tier is ImageIO/javax.sound cross-checked and
  *   formula-twin gated.
  * - [[FakeCodec]] remains only as the original plumbing-demo tier
  *   (q26): the partition-wise batching, schema, failure-marking and
  *   fan-out seams it demonstrated are now exercised by the real
  *   codecs above. Progressive JPEG / compressed audio stay out of
  *   scope (those codecs belong to real media libraries; the decoders
  *   REFUSE rather than mis-decode them).
  */
object Multimodal {

  /** Adam7 pass origins/strides (x0, y0, dx, dy) in PNG spec order —
    * ONE definition shared by the decoder and the test encoder so the
    * two sides cannot drift. */
  private[operators] val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Per-pass (width, height) of an Adam7-interlaced w×h image;
    * empty passes are (0, 0). */
  private[operators] def adam7Dims(w: Int, h: Int): Array[(Int, Int)] =
    Adam7.map { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      (pw, ph)
    }

  case class MediaFile(doc_id: Long, media_type: String, content: Array[Byte])
  case class MediaMeta(doc_id: Long, media_type: String, width: Int, height: Int,
      n_frames: Int, byte_size: Int, valid: Boolean)
  case class Frame(doc_id: Long, frame_index: Int, frame_bytes: Array[Byte])

  val Magic: Int = 0x4D454449 // "MEDI"

  implicit val mediaEnc: Encoder[MediaFile] = Encoders.product[MediaFile]
  implicit val metaEnc: Encoder[MediaMeta] = Encoders.product[MediaMeta]
  implicit val frameEnc: Encoder[Frame] = Encoders.product[Frame]

  /** Stub codec. A real deployment replaces exactly this object with
    * bindings to an image/audio library; everything else stands. */
  object FakeCodec {
    def encode(docId: Long, mediaType: String): Array[Byte] = {
      val width = (docId % 64 + 1).toInt * 16
      val height = (docId % 48 + 1).toInt * 16
      val frames = if (mediaType == "video") (docId % 30 + 1).toInt else 1
      val payload = (docId % 251).toInt
      val buf = ByteBuffer.allocate(16 + 64)
      buf.putInt(Magic).putInt(width).putInt(height).putInt(frames)
      (0 until 64).foreach(i => buf.put(((payload + i) % 256).toByte))
      buf.array()
    }

    def decodeHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (bytes == null || bytes.length < 16) None
      else {
        val buf = ByteBuffer.wrap(bytes)
        if (buf.getInt() != Magic) None
        else Some((buf.getInt(), buf.getInt(), buf.getInt()))
      }
  }

  /** Deterministic synthetic media over the documents table (the test
    * stand-in for "a bucket of jpeg/mp4 files"). */
  def syntheticMedia(documents: DataFrame): Dataset[MediaFile] = {
    val spark = documents.sparkSession
    documents.select(col("doc_id"), col("lang")).as(Encoders.product[(Long, String)])
      .map { case (id, _) =>
        val mt = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaFile(id, mt, FakeCodec.encode(id, mt))
      }(mediaEnc)
  }

  /** Decode metadata per partition: one codec per partition, corrupt
    * payloads marked invalid instead of failing the stage. */
  def decodeMeta(media: Dataset[MediaFile]): Dataset[MediaMeta] =
    media.mapPartitions { iter =>
      // per-partition decoder init goes here in a real codec
      iter.map { m =>
        FakeCodec.decodeHeader(m.content) match {
          case Some((w, h, f)) =>
            MediaMeta(m.doc_id, m.media_type, w, h, f, m.content.length, valid = true)
          case None =>
            MediaMeta(m.doc_id, m.media_type, 0, 0, 0,
              if (m.content == null) 0 else m.content.length, valid = false)
        }
      }
    }(metaEnc)

  /** Frame sampling for video rows: every `stride`-th frame index with
    * its (stub-)decoded bytes. Fan-out is bounded by n_frames/stride —
    * at scale this is the explode that must NOT run on image rows. */
  def sampleFrames(media: Dataset[MediaFile], stride: Int): Dataset[Frame] =
    media.filter(_.media_type == "video").flatMap { m =>
      FakeCodec.decodeHeader(m.content) match {
        case Some((_, _, frames)) =>
          (0 until frames by stride).map { i =>
            Frame(m.doc_id, i, m.content.drop(16)) // stub: payload = every frame
          }
        case None => Seq.empty
      }
    }(frameEnc)

  // ---- real container-format probing (no stub) ------------------------

  case class ProbedMeta(doc_id: Long, format: String, width: Int, height: Int,
      sample_rate: Int, channels: Int, byte_size: Int, valid: Boolean)
  implicit val probedEnc: Encoder[ProbedMeta] = Encoders.product[ProbedMeta]

  /** REAL header parsing for the standard container formats — PNG
    * (IHDR), JPEG (SOF marker walk), GIF, BMP, WAV (RIFF/fmt) — pure
    * JVM byte arithmetic, no media libraries. This is the honest part
    * of the codec: format detection and dimensional metadata come from
    * the actual file bytes; only pixel/sample DECODE remains stubbed
    * (no codec libraries in this container). */
  object FormatProbe {
    private def u16be(b: Array[Byte], i: Int) =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def u32be(b: Array[Byte], i: Int) =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def u16le(b: Array[Byte], i: Int) =
      ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    private def u32le(b: Array[Byte], i: Int) =
      ((b(i + 3) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    private def ascii(b: Array[Byte], i: Int, s: String) =
      b.length >= i + s.length && s.indices.forall(j => b(i + j) == s.charAt(j).toByte)

    private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** (format, width, height, sampleRate, channels); dimensions 0
      * where the format has none. None = unrecognized/truncated. */
    def probe(b: Array[Byte]): Option[(String, Int, Int, Int, Int)] = {
      if (b == null || b.length < 12) None
      else if (b.take(8).sameElements(PngSig))
        // IHDR is mandatory-first: length(4) "IHDR" width(4) height(4)
        if (b.length >= 24 && ascii(b, 12, "IHDR"))
          Some(("png", u32be(b, 16), u32be(b, 20), 0, 0))
        else None
      else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        // JPEG: walk FF-prefixed segments to the first SOFn frame header
        var i = 2
        while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
          val m = b(i + 1) & 0xff
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return Some(("jpeg", u16be(b, i + 7), u16be(b, i + 5), 0, 0))
          i += 2 + u16be(b, i + 2)
        }
        None
      }
      else if (ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a"))
        Some(("gif", u16le(b, 6), u16le(b, 8), 0, 0))
      else if (ascii(b, 0, "BM") && b.length >= 26)
        Some(("bmp", u32le(b, 18), u32le(b, 22), 0, 0))
      else if (ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE") && b.length >= 28 && ascii(b, 12, "fmt "))
        Some(("wav", 0, 0, u32le(b, 24), u16le(b, 22)))
      else None
    }
  }

  /** Minimal VALID files of each container format (correct signatures,
    * chunk structure, CRCs where the format demands them) — the
    * synthetic stand-in is real enough that any standards-conforming
    * reader parses it, so the probe is tested against the format, not
    * against itself. */
  object MiniEncoder {
    def png(w: Int, h: Int): Array[Byte] = {
      val ihdr = ByteBuffer.allocate(17)
      ihdr.put("IHDR".getBytes("US-ASCII"))
        .putInt(w).putInt(h)
        .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val crc = new java.util.zip.CRC32
      crc.update(ihdr.array())
      val buf = ByteBuffer.allocate(8 + 4 + 17 + 4)
      buf.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        .putInt(13).put(ihdr.array()).putInt(crc.getValue.toInt)
      buf.array()
    }

    def jpeg(w: Int, h: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(2 + 18 + 13 + 2)
      buf.put(Array(0xff, 0xd8).map(_.toByte))                       // SOI
      buf.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16.toShort)  // APP0/JFIF
        .put("JFIF".getBytes("US-ASCII")).put(0.toByte)
        .putShort(0x0101.toShort).put(0.toByte)
        .putShort(1.toShort).putShort(1.toShort).put(0.toByte).put(0.toByte)
      buf.put(Array(0xff, 0xc0).map(_.toByte)).putShort(11.toShort)  // SOF0
        .put(8.toByte).putShort(h.toShort).putShort(w.toShort)
        .put(1.toByte).put(1.toByte).put(0x11.toByte).put(0.toByte)
      buf.put(Array(0xff, 0xd9).map(_.toByte))                       // EOI
      buf.array()
    }

    def gif(w: Int, h: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(6 + 7 + 1).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("GIF89a".getBytes("US-ASCII"))
        .putShort(w.toShort).putShort(h.toShort)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      buf.put(0x3b.toByte) // trailer
      buf.array()
    }

    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      val t = typ.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      val buf = ByteBuffer.allocate(12 + data.length)
      buf.putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt)
      buf.array()
    }

    /** COMPLETE 8-bit grayscale PNG with real pixel data: scanlines
      * forward-filtered with the filter type rotating through all
      * five (None/Sub/Up/Average/Paeth — so a decoder must reverse
      * each correctly), zlib-deflated into IDAT. Any standard PNG
      * reader decodes it; [[PixelCodec.decodePng]] is tested against
      * the format, not against itself. */
    def pngGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      def px(x: Int, y: Int) = v(x, y) & 0xff
      val raw = new Array[Byte]((w + 1) * h)
      for (y <- 0 until h) {
        val f = y % 5
        raw(y * (w + 1)) = f.toByte
        for (x <- 0 until w) {
          val a = if (x > 0) px(x - 1, y) else 0
          val b = if (y > 0) px(x, y - 1) else 0
          val c = if (x > 0 && y > 0) px(x - 1, y - 1) else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 => // Paeth predictor
              val p = a + b - c
              val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (w + 1) + 1 + x) = ((px(x, y) - pred) & 0xff).toByte
        }
      }
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** Adam7-INTERLACED 8-bit grayscale PNG (filter 0 rows in every
      * pass — the interlace plumbing is what's under test; the filter
      * rotation is exercised by [[pngGray]]). Conformant per the PNG
      * spec's pass table, so foreign readers reconstruct it too. */
    def pngGrayInterlaced(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      val rawOut = new java.io.ByteArrayOutputStream()
      Adam7.zip(adam7Dims(w, h)).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
        if (pw > 0 && ph > 0)
          for (py <- 0 until ph) {
            rawOut.write(0) // filter None
            for (px <- 0 until pw) rawOut.write(v(x0 + px * dx, y0 + py * dy) & 0xff)
          }
      }
      val raw = rawOut.toByteArray
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(1.toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** Sub-byte (depth 1/2/4) GRAYSCALE PNG: samples packed MSB-first
      * into scanline bytes (spec §7.2), then forward-filtered with the
      * same filter-type rotation as [[pngGray]] — sub-byte filters are
      * defined BYTEwise with a 1-byte step, so the rotation exercises
      * reversal over packed rows, not per-sample math. Adam7 packs
      * each pass independently (filter 0 rows; the per-pass packing is
      * what's under test there). `v` supplies raw samples in
      * 0..2^depth-1. */
    def pngGraySub(w: Int, h: Int, depth: Int, interlaced: Boolean,
        v: (Int, Int) => Int): Array[Byte] =
      pngSub(w, h, depth, 0, null, interlaced, v)

    /** Sub-byte (depth 1/2/4) PALETTE PNG (color type 3): packed
      * indices + a PLTE of `palette.length/3` RGB entries; same
      * filter/interlace treatment as [[pngGraySub]]. */
    def pngPaletteSub(w: Int, h: Int, depth: Int, palette: Array[Byte],
        interlaced: Boolean, v: (Int, Int) => Int): Array[Byte] =
      pngSub(w, h, depth, 3, palette, interlaced, v)

    private def pngSub(w: Int, h: Int, depth: Int, colorType: Int,
        plte: Array[Byte], interlaced: Boolean, v: (Int, Int) => Int): Array[Byte] = {
      def rbOf(wPx: Int) = (wPx * depth + 7) / 8
      def packRows(wPx: Int, rows: Int, s: (Int, Int) => Int): Array[Array[Byte]] =
        Array.tabulate(rows) { y =>
          val row = new Array[Byte](rbOf(wPx))
          for (x <- 0 until wPx) {
            val bit = x * depth
            row(bit >> 3) = (row(bit >> 3) |
              ((s(x, y) & ((1 << depth) - 1)) << (8 - depth - (bit & 7)))).toByte
          }
          row
        }
      val rawOut = new java.io.ByteArrayOutputStream()
      if (!interlaced) {
        val rows = packRows(w, h, (x, y) => v(x, y))
        var prev: Array[Byte] = null
        for (y <- 0 until h) {
          val f = y % 5
          rawOut.write(f)
          val cur = rows(y)
          for (k <- cur.indices) {
            val a = if (k > 0) cur(k - 1) & 0xff else 0
            val b = if (prev != null) prev(k) & 0xff else 0
            val c = if (k > 0 && prev != null) prev(k - 1) & 0xff else 0
            val pred = f match {
              case 0 => 0
              case 1 => a
              case 2 => b
              case 3 => (a + b) / 2
              case 4 =>
                val p = a + b - c
                val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
                if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            }
            rawOut.write(((cur(k) & 0xff) - pred) & 0xff)
          }
          prev = cur
        }
      } else {
        Adam7.zip(adam7Dims(w, h)).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
          if (pw > 0 && ph > 0) {
            val rows = packRows(pw, ph, (px, py) => v(x0 + px * dx, y0 + py * dy))
            for (py <- 0 until ph) { rawOut.write(0); rawOut.write(rows(py)) }
          }
        }
      }
      val raw = rawOut.toByteArray
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(depth.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
        .put((if (interlaced) 1 else 0).toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      if (plte != null) out.write(chunk("PLTE", plte))
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** 16-bit grayscale PNG with the same filter-type rotation as
      * [[pngGray]] — filters work BYTEwise with bpp=2 (the `a`/`c`
      * neighbors two bytes back), exactly the spec's definition, so
      * the decoder's doubled-step filter reversal is what's under
      * test. `v` supplies 16-bit samples (0..65535), stored
      * big-endian. */
    def pngGray16(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      val rb = w * 2
      val samples = Array.tabulate(h, rb) { (y, k) =>
        val s16 = v(k / 2, y) & 0xffff
        (if (k % 2 == 0) s16 >> 8 else s16 & 0xff).toByte
      }
      val raw = new Array[Byte]((rb + 1) * h)
      for (y <- 0 until h) {
        val f = y % 5
        raw(y * (rb + 1)) = f.toByte
        for (k <- 0 until rb) {
          val cur = samples(y)(k) & 0xff
          val a = if (k >= 2) samples(y)(k - 2) & 0xff else 0
          val b = if (y > 0) samples(y - 1)(k) & 0xff else 0
          val c = if (k >= 2 && y > 0) samples(y - 1)(k - 2) & 0xff else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 =>
              val p = a + b - c
              val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (rb + 1) + 1 + k) = ((cur - pred) & 0xff).toByte
        }
      }
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(16.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** 16-bit PNG across the full supported matrix — color types
      * 0 (gray) / 2 (RGB) / 4 (gray+alpha) / 6 (RGBA), interlaced or
      * not — with the same per-scanline filter-type rotation as
      * [[pngGray16]] (filters run BYTEwise at the bpp = 2·channels
      * step, per the spec). Adam7 passes are independently filtered
      * sub-images; the rotation counter runs across passes so every
      * pass sees non-trivial filters. `v(x, y, ch)` supplies 16-bit
      * samples (0..65535), stored big-endian. Exists to close the
      * "declared rather than claimed" 16-bit color/interlace decode
      * cells with the same both-direction spec the 8-bit matrix has. */
    def png16(w: Int, h: Int, colorType: Int, interlaced: Boolean,
        v: (Int, Int, Int) => Int): Array[Byte] = {
      val nCh = colorType match {
        case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
        case other => throw new IllegalArgumentException(s"colorType $other")
      }
      val bpp = nCh * 2
      val rawOut = new java.io.ByteArrayOutputStream()
      var rowCounter = 0
      def writePass(pw: Int, ph: Int, sample: (Int, Int, Int) => Int): Unit = {
        if (pw <= 0 || ph <= 0) return
        val rb = pw * bpp
        var prev: Array[Int] = null
        for (py <- 0 until ph) {
          val cur = new Array[Int](rb)
          for (px <- 0 until pw; c <- 0 until nCh) {
            val s = sample(px, py, c) & 0xffff
            cur(px * bpp + 2 * c) = s >> 8
            cur(px * bpp + 2 * c + 1) = s & 0xff
          }
          val f = rowCounter % 5
          rowCounter += 1
          rawOut.write(f)
          for (k <- 0 until rb) {
            val a = if (k >= bpp) cur(k - bpp) else 0
            val b = if (prev != null) prev(k) else 0
            val c0 = if (k >= bpp && prev != null) prev(k - bpp) else 0
            val pred = f match {
              case 0 => 0
              case 1 => a
              case 2 => b
              case 3 => (a + b) / 2
              case _ =>
                val p = a + b - c0
                val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c0))
                if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c0
            }
            rawOut.write((cur(k) - pred) & 0xff)
          }
          prev = cur
        }
      }
      if (interlaced)
        Adam7.zip(adam7Dims(w, h)).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
          writePass(pw, ph, (px, py, c) => v(x0 + px * dx, y0 + py * dy, c))
        }
      else writePass(w, h, v)
      val raw = rawOut.toByteArray
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(16.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
        .put((if (interlaced) 1 else 0).toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** COMPLETE 8-bit PNG with real COLOR pixel data — color type 2
      * (truecolor RGB) or, with `palette`, color type 3 (indexed).
      * Scanline filters rotate through all five with bpp-aware
      * neighbors (bpp=3 for truecolor, 1 for indexed), zlib-deflated.
      * For type 3, `rgb` returns the palette INDEX in its first slot
      * and the palette array supplies the colors. */
    def pngRgb(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] =
      pngEncode(w, h, 2, 3,
        (x, y) => { val (r, g, b) = rgb(x, y); Array(r, g, b) }, null)

    /** COMPLETE 8-bit palette PNG (color type 3): pixel (x,y) carries
      * index `idx(x,y)` into the 256-entry `palette` (r,g,b) triples. */
    def pngPal(w: Int, h: Int, idx: (Int, Int) => Int,
        palette: Array[(Int, Int, Int)]): Array[Byte] =
      pngEncode(w, h, 3, 1, (x, y) => Array(idx(x, y)), palette)

    private def pngEncode(w: Int, h: Int, colorType: Int, bpp: Int,
        px: (Int, Int) => Array[Int], palette: Array[(Int, Int, Int)]): Array[Byte] = {
      val rowBytes = w * bpp
      val raw = new Array[Byte]((rowBytes + 1) * h)
      val cur = new Array[Int](rowBytes)
      val prev = new Array[Int](rowBytes)
      for (y <- 0 until h) {
        for (x <- 0 until w; c <- 0 until bpp) cur(x * bpp + c) = px(x, y)(c) & 0xff
        val f = y % 5
        raw(y * (rowBytes + 1)) = f.toByte
        for (k <- 0 until rowBytes) {
          val a = if (k >= bpp) cur(k - bpp) else 0
          val b = if (y > 0) prev(k) else 0
          val c = if (k >= bpp && y > 0) prev(k - bpp) else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 =>
              val p = a + b - c
              val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          raw(y * (rowBytes + 1) + 1 + k) = ((cur(k) - pred) & 0xff).toByte
        }
        System.arraycopy(cur, 0, prev, 0, rowBytes)
      }
      val def_ = new java.util.zip.Deflater()
      def_.setInput(raw); def_.finish()
      val zbuf = new Array[Byte](raw.length * 2 + 64)
      val zlen = def_.deflate(zbuf)
      def_.end()
      val ihdr = ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      out.write(chunk("IHDR", ihdr.array()))
      if (colorType == 3) {
        val plte = new Array[Byte](palette.length * 3)
        palette.zipWithIndex.foreach { case ((r, g, b), i) =>
          plte(3 * i) = r.toByte; plte(3 * i + 1) = g.toByte; plte(3 * i + 2) = b.toByte
        }
        out.write(chunk("PLTE", plte))
      }
      out.write(chunk("IDAT", zbuf.take(zlen)))
      out.write(chunk("IEND", Array.empty))
      out.toByteArray
    }

    /** COMPLETE uncompressed 24bpp bottom-up BMP with real COLOR
      * pixels (stored BGR, stride padded to 4 bytes). */
    def bmp24Rgb(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val size = 54 + stride * h
      val buf = ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(size)
        .putShort(0.toShort).putShort(0.toShort).putInt(54)
      buf.putInt(40).putInt(w).putInt(h).putShort(1.toShort).putShort(24.toShort)
        .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- (h - 1) to 0 by -1) { // bottom-up row order
        for (x <- 0 until w) {
          val (r, g, b) = rgb(x, y)
          buf.put(b.toByte).put(g.toByte).put(r.toByte)
        }
        (w * 3 until stride).foreach(_ => buf.put(0.toByte))
      }
      buf.array()
    }

    /** COMPLETE GIF89a over an arbitrary 256-entry COLOR palette —
      * [[gifGray]] with the palette as a parameter; pixel (x,y)
      * carries index `idx(x,y)`. */
    def gifPal(w: Int, h: Int, idx: (Int, Int) => Int,
        palette: Array[(Int, Int, Int)]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0xf7); out.write(0); out.write(0)
      palette.foreach { case (r, g, b) => out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff) }
      out.write(0x2c)
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0)
      out.write(8)
      val ind = new Array[Byte](w * h)
      for (y <- 0 until h; x <- 0 until w) ind(y * w + x) = (idx(x, y) & 0xff).toByte
      val lzw = lzwEncode(ind, 8)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        out.write(n); out.write(lzw, off, n); off += n
      }
      out.write(0)
      out.write(0x3b)
      out.toByteArray
    }

    /** COMPLETE uncompressed 24bpp bottom-up BMP (r=g=b=v — gray
      * payload in an RGB container), stride padded to 4 bytes. */
    def bmp24(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val size = 54 + stride * h
      val buf = ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(size)
        .putShort(0.toShort).putShort(0.toShort).putInt(54)
      buf.putInt(40).putInt(w).putInt(h).putShort(1.toShort).putShort(24.toShort)
        .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- (h - 1) to 0 by -1) { // bottom-up row order
        for (x <- 0 until w) {
          val g = (v(x, y) & 0xff).toByte
          buf.put(g).put(g).put(g)
        }
        (w * 3 until stride).foreach(_ => buf.put(0.toByte))
      }
      buf.array()
    }

    /** COMPLETE GIF89a with real pixel data: 256-entry grayscale
      * global color table (index i = rgb(i,i,i)) and a genuinely
      * LZW-compressed index stream — variable-width codes growing
      * 9→12 bits, clear-code reset at table overflow — so
      * [[PixelCodec.decodeGif]]'s table rebuild is exercised by real
      * compression, not a literal-only stream. Any standard GIF
      * reader decodes it (ImageIO cross-checked in the spec). */
    def gifGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      // logical screen descriptor: GCT present, 8 bpp, 256 entries
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0xf7); out.write(0); out.write(0)
      (0 until 256).foreach { i => out.write(i); out.write(i); out.write(i) }
      out.write(0x2c) // image descriptor: full frame, no LCT, sequential
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0)
      out.write(8) // LZW minimum code size
      val idx = new Array[Byte](w * h)
      for (y <- 0 until h; x <- 0 until w) idx(y * w + x) = (v(x, y) & 0xff).toByte
      val lzw = lzwEncode(idx, 8)
      var off = 0
      while (off < lzw.length) { // 255-byte sub-blocks
        val n = math.min(255, lzw.length - off)
        out.write(n); out.write(lzw, off, n); off += n
      }
      out.write(0)    // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** GIF-flavor LZW: variable-width codes LSB-first, clear emitted
      * at start and on table overflow, EOI last. Width sync with the
      * decoder is the subtle part: the decoder's table lags the
      * encoder's by one code (it defines an entry only on the NEXT
      * read), so the encoder grows at `next == (1<<width)+1` where
      * the decoder grows at `next == 1<<width`. */
    private def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nbits = 0; var width = minCodeSize + 1
      def emit(code: Int): Unit = {
        acc |= code.toLong << nbits; nbits += width
        while (nbits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
      }
      val dict = new java.util.HashMap[Integer, Integer]() // prefix<<8|byte → code
      var next = eoi + 1
      emit(clear)
      var prefix = -1
      var i = 0
      while (i < data.length) {
        val b = data(i) & 0xff
        if (prefix < 0) prefix = b
        else {
          val key: Integer = (prefix << 8) | b
          val hit = dict.get(key)
          if (hit != null) prefix = hit.intValue()
          else {
            emit(prefix)
            if (next < 4096) {
              dict.put(key, next)
              next += 1
              if (next == (1 << width) + 1 && width < 12) width += 1
            } else {
              emit(clear)
              dict.clear()
              next = eoi + 1
              width = minCodeSize + 1
            }
            prefix = b
          }
        }
        i += 1
      }
      if (prefix >= 0) emit(prefix)
      emit(eoi)
      if (nbits > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }

    def wav(sampleRate: Int, channels: Int, nSamples: Int): Array[Byte] =
      wavPcm(sampleRate, channels, nSamples, (_, _) => 0)

    /** COMPLETE 16-bit PCM WAV with real interleaved sample data:
      * frame i, channel c carries `v(i, c)` (clamped to int16). Any
      * standard reader decodes it (javax.sound cross-checked in the
      * spec). */
    def wavPcm(sampleRate: Int, channels: Int, nFrames: Int,
        v: (Int, Int) => Int): Array[Byte] = {
      val dataLen = nFrames * channels * 2
      val buf = ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(channels.toShort)
        .putInt(sampleRate).putInt(sampleRate * channels * 2)
        .putShort((channels * 2).toShort).putShort(16.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      for (i <- 0 until nFrames; c <- 0 until channels)
        buf.putShort(math.max(-32768, math.min(32767, v(i, c))).toShort)
      buf.array()
    }

    /** COMPLETE PCM WAV at an arbitrary sample width (8/16/24/32
      * bits): frame i, channel c stores the RAW width-native value
      * `v(i, c)` little-endian (8-bit: unsigned 0–255; wider: signed).
      * Exercises [[WavCodec]]'s width normalization from the format
      * side. */
    def wavPcmN(sampleRate: Int, channels: Int, nFrames: Int, bps: Int,
        v: (Int, Int) => Int): Array[Byte] = {
      val bytesPer = bps / 8
      val dataLen = nFrames * channels * bytesPer
      val buf = ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort).putShort(channels.toShort)
        .putInt(sampleRate).putInt(sampleRate * channels * bytesPer)
        .putShort((channels * bytesPer).toShort).putShort(bps.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      for (i <- 0 until nFrames; c <- 0 until channels) {
        val raw = v(i, c)
        var k = 0
        while (k < bytesPer) { buf.put(((raw >> (8 * k)) & 0xff).toByte); k += 1 }
      }
      buf.array()
    }

    /** COMPLETE multi-frame (animated) GIF89a: every frame is a
      * full-dimension image block with its own LZW-compressed index
      * stream over the shared grayscale GCT — frame f, pixel (x,y)
      * carries `v(x, y, f)`. The video-tier stand-in whose frame
      * payloads are REAL pixels ([[PixelCodec.decodeGifFrames]]). */
    def gifAnimGray(w: Int, h: Int, nFrames: Int,
        v: (Int, Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xff); out.write((w >> 8) & 0xff)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write(0xf7); out.write(0); out.write(0)
      (0 until 256).foreach { i => out.write(i); out.write(i); out.write(i) }
      for (f <- 0 until nFrames) {
        out.write(0x2c)
        out.write(0); out.write(0); out.write(0); out.write(0)
        out.write(w & 0xff); out.write((w >> 8) & 0xff)
        out.write(h & 0xff); out.write((h >> 8) & 0xff)
        out.write(0)
        out.write(8)
        val idx = new Array[Byte](w * h)
        for (y <- 0 until h; x <- 0 until w) idx(y * w + x) = (v(x, y, f) & 0xff).toByte
        val lzw = lzwEncode(idx, 8)
        var off = 0
        while (off < lzw.length) {
          val n = math.min(255, lzw.length - off)
          out.write(n); out.write(lzw, off, n); off += n
        }
        out.write(0)
      }
      out.write(0x3b)
      out.toByteArray
    }

    /** One composited-animation frame spec for [[gifAnimComposite]]:
      * an update rect at (left, top), its disposal method for AFTER
      * display (0/1 leave, 2 restore-to-background, 3
      * restore-to-previous), an optional transparent index (-1 =
      * none), and the rect's index values. */
    case class GifFrame(left: Int, top: Int, w: Int, h: Int,
        disposal: Int, transIdx: Int, v: (Int, Int) => Int)

    /** COMPLETE GIF89a animation with PARTIAL-UPDATE frames: a
      * logical screen of `sw`×`sh` with background index `bg`, each
      * frame preceded by a real graphic-control extension carrying its
      * disposal method and transparency, image blocks at their own
      * (left, top, w, h) rects, each LZW-compressed over the shared
      * grayscale GCT. The composited-rendering counterpart of
      * [[gifAnimGray]] — exercises [[PixelCodec.decodeGifFrames]]'s
      * canvas model instead of the full-frame fast path. */
    def gifAnimComposite(sw: Int, sh: Int, bg: Int,
        frames: Seq[GifFrame]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(sw & 0xff); out.write((sw >> 8) & 0xff)
      out.write(sh & 0xff); out.write((sh >> 8) & 0xff)
      out.write(0xf7); out.write(bg & 0xff); out.write(0)
      (0 until 256).foreach { i => out.write(i); out.write(i); out.write(i) }
      frames.foreach { f =>
        require(f.left + f.w <= sw && f.top + f.h <= sh, "rect escapes screen")
        out.write(0x21); out.write(0xf9); out.write(4) // GCE
        out.write(((f.disposal & 7) << 2) | (if (f.transIdx >= 0) 1 else 0))
        out.write(0); out.write(0) // delay
        out.write(if (f.transIdx >= 0) f.transIdx & 0xff else 0)
        out.write(0) // GCE terminator
        out.write(0x2c)
        out.write(f.left & 0xff); out.write((f.left >> 8) & 0xff)
        out.write(f.top & 0xff); out.write((f.top >> 8) & 0xff)
        out.write(f.w & 0xff); out.write((f.w >> 8) & 0xff)
        out.write(f.h & 0xff); out.write((f.h >> 8) & 0xff)
        out.write(0)
        out.write(8)
        val idx = new Array[Byte](f.w * f.h)
        for (y <- 0 until f.h; x <- 0 until f.w)
          idx(y * f.w + x) = (f.v(x, y) & 0xff).toByte
        val lzw = lzwEncode(idx, 8)
        var off = 0
        while (off < lzw.length) {
          val n = math.min(255, lzw.length - off)
          out.write(n); out.write(lzw, off, n); off += n
        }
        out.write(0)
      }
      out.write(0x3b)
      out.toByteArray
    }
  }

  /** Deterministic REAL-format media over the documents table: each
    * doc gets a minimal valid PNG/JPEG/GIF/WAV keyed on doc_id; every
    * 25th payload is truncated to exercise the corrupt-row path. */
  def syntheticRealMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 64 + 1).toInt * 4
      val h = (id % 48 + 1).toInt * 4
      val bytes = (id % 4) match {
        case 0 => MiniEncoder.png(w, h)
        case 1 => MiniEncoder.jpeg(w, h)
        case 2 => MiniEncoder.gif(w, h)
        case _ => MiniEncoder.wav(8000 + (id % 5).toInt * 8000, (id % 2).toInt + 1, 4)
      }
      val mt = if (id % 4 == 3) "audio" else "image"
      MediaFile(id, mt, if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Probe REAL container headers per partition (same seam as
    * [[decodeMeta]]; corrupt/truncated rows mark invalid, never fail
    * the stage). */
  def probeMeta(media: Dataset[MediaFile]): Dataset[ProbedMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        FormatProbe.probe(m.content) match {
          case Some((fmt, w, h, sr, ch)) =>
            ProbedMeta(m.doc_id, fmt, w, h, sr, ch, m.content.length, valid = true)
          case None =>
            ProbedMeta(m.doc_id, "unknown", 0, 0, 0, 0,
              if (m.content == null) 0 else m.content.length, valid = false)
        }
      }
    }(probedEnc)

  // ---- real pixel decode (no stub): PNG grayscale + BMP 24bpp ---------

  case class PixelMeta(doc_id: Long, format: String, width: Int, height: Int,
      n_pixels: Long, pixel_sum: Long, pixel_min: Int, pixel_max: Int, valid: Boolean)
  implicit val pixelEnc: Encoder[PixelMeta] = Encoders.product[PixelMeta]

  /** High-bit-depth sample statistics (r9): the >8-bit JPEG tiers —
    * 12-bit SOF1 and lossless SOF3 (2–16 bit) — whose samples cannot
    * be a byte raster. `precision` carries the frame's sample depth
    * so the twin can pin it. */
  case class HiDepthMeta(doc_id: Long, format: String, width: Int, height: Int,
      channels: Int, bit_depth: Int, n_samples: Long, sample_sum: Long,
      sample_min: Int, sample_max: Int, valid: Boolean)
  implicit val hiDepthEnc: Encoder[HiDepthMeta] = Encoders.product[HiDepthMeta]

  /** REAL pixel decode, pure JVM: 8-bit grayscale PNG (zlib inflate +
    * all five scanline filters reversed — None/Sub/Up/Average/Paeth),
    * uncompressed bottom-up 24bpp BMP (stride padding honored,
    * channels averaged to gray), GIF with full GIF89a compositing
    * (LZW, interlace, transparency, disposal), and baseline JPEG via
    * [[JpegCodec]] (gray direct; color decodes via
    * [[JpegCodec.decodeImage]] — this dispatcher stays grayscale by
    * contract). Output is row-major top-down grayscale bytes. */
  object PixelCodec {
    /** Cap on any decoded raster (pixels and per-side). IHDR is
      * untrusted and IDAT is compressed, so unlike BMP the payload
      * length does NOT bound w×h — a 100-byte PNG claiming
      * 30000×30000 would otherwise force a ~900 MB allocation, and
      * the resulting OutOfMemoryError is an Error the row-level
      * `catch Exception` never sees (the task dies instead of the
      * row marking valid=false). 64 M pixels ≈ 8K×8K gray. */
    val MaxPixels: Long = 64L * 1024 * 1024
    val MaxDim: Int = 1 << 16

    private def u32be(b: Array[Byte], i: Int) =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def u16le(b: Array[Byte], i: Int) =
      ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    private def u32le(b: Array[Byte], i: Int) =
      ((b(i + 3) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Decode an 8-bit grayscale PNG, interlaced or not (the format
      * [[MiniEncoder.pngGray]]/[[MiniEncoder.pngGrayInterlaced]] write
      * and any standard tool reads). Gray ONLY by contract — color
      * PNGs decode via [[decodePngImage]]. */
    def decodePng(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      decodePngImage(b) match {
        case Some((w, h, 1, px)) => Some((w, h, px))
        case _ => None
      }

    /** Decode an 8-bit PNG of color type 0 (gray,
      * channels=1), 2 (truecolor RGB, channels=3), 3 (palette →
      * expanded to RGB, channels=3), 4 (gray+alpha → alpha DROPPED,
      * channels=1) or 6 (RGBA → alpha DROPPED, channels=3) to (w, h,
      * channels, pixels). Alpha is discarded rather than composited —
      * the deterministic choice for a training pipeline reading raw
      * color values; callers that need matting composite downstream.
      * Filter reversal is bytes-per-pixel aware (the `a`/`c`
      * neighbors step by bpp, per the PNG spec). Adam7 interlace is
      * reconstructed pass by pass (each pass is its own filtered
      * sub-image; empty passes contribute nothing). 16-bit samples
      * decode and downconvert to their high byte (the standard 8-bit
      * rendering; filters operate bytewise with the doubled bpp step
      * exactly as the spec defines). Sub-8-bit depths (1/2/4 — legal
      * for gray and palette only, spec §11.2.2) decode too (r8):
      * filters reverse bytewise with a 1-byte step, samples unpack
      * MSB-first per scanline (per pass under Adam7 — packing never
      * aligns across passes), gray samples scale by bit replication
      * (v·255/max), palette samples index the PLTE raw. */
    def decodePngImage(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = try {
      if (b == null || b.length < 33 ||
        !b.take(8).sameElements(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)))
        return None
      var i = 8
      var w, h = 0
      var colorType = -1
      var interlaced = false
      var depth = 8
      var ok = false
      var plte: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done && i + 8 <= b.length) {
        val len = u32be(b, i)
        val typ = new String(b, i + 4, 4, "US-ASCII")
        if (i + 12 + len > b.length) return None // truncated chunk
        typ match {
          case "IHDR" =>
            w = u32be(b, i + 8); h = u32be(b, i + 12)
            colorType = b(i + 17) & 0xff
            interlaced = b(i + 20) == 1
            depth = b(i + 16) & 0xff
            // bit depth per the spec's §11.2.2 legality table: 8 for
            // all types, 16 for non-palette, and sub-byte 1/2/4 for
            // gray and palette only; interlace none or Adam7
            ok = (depth == 8 || (depth == 16 && colorType != 3) ||
              ((depth == 1 || depth == 2 || depth == 4) &&
                (colorType == 0 || colorType == 3))) &&
              (colorType == 0 || colorType == 2 || colorType == 3 ||
                colorType == 4 || colorType == 6) &&
              (b(i + 20) == 0 || b(i + 20) == 1)
          case "PLTE" =>
            if (len % 3 != 0 || len > 768) return None
            plte = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
          case "IDAT" => idat.write(b, i + 8, len)
          case "IEND" => done = true
          case _ => ()
        }
        i += 12 + len
      }
      if (!ok || !done || w <= 0 || h <= 0) return None
      val pixCh = colorType match { // channels per pixel
        case 0 | 3 => 1
        case 4 => 2
        case 2 => 3
        case 6 => 4
      }
      // filter byte step: sub-byte depths pack >1 pixel per byte and
      // the spec defines their filters bytewise with a 1-byte step
      val bpp = math.max(1, pixCh * depth / 8)
      // scanline byte width of a wPx-pixel row (ceil for sub-byte)
      def rbOf(wPx: Int): Int = (wPx * pixCh * depth + 7) / 8
      val outCh = if (colorType == 0 || colorType == 4) 1 else 3
      if (w > MaxDim || h > MaxDim || w.toLong * h * outCh > MaxPixels) return None
      if (colorType == 3 && plte == null) return None
      val rowBytes = rbOf(w)
      // reverse per-scanline filters of one (sub-)image at `base` in
      // `raw` (neighbors at -bpp, per the PNG spec); null on a bad
      // filter byte
      def defilter(raw: Array[Byte], base: Int, wPx: Int, rows: Int): Array[Byte] = {
        val rb = rbOf(wPx)
        val un = new Array[Byte](rb * rows)
        var y = 0
        while (y < rows) {
          val f = raw(base + y * (rb + 1)) & 0xff
          var k = 0
          while (k < rb) {
            val v = raw(base + y * (rb + 1) + 1 + k) & 0xff
            val a = if (k >= bpp) un(y * rb + k - bpp) & 0xff else 0
            val up = if (y > 0) un((y - 1) * rb + k) & 0xff else 0
            val c = if (k >= bpp && y > 0) un((y - 1) * rb + k - bpp) & 0xff else 0
            val recon = f match {
              case 0 => v
              case 1 => v + a
              case 2 => v + up
              case 3 => v + (a + up) / 2
              case 4 => v + paeth(a, up, c)
              case _ => return null
            }
            un(y * rb + k) = (recon & 0xff).toByte
            k += 1
          }
          y += 1
        }
        un
      }
      // Adam7: 7 independent sub-images, each with its own scanline
      // filtering, concatenated in the inflated stream; empty passes
      // contribute no bytes at all
      val dims = adam7Dims(w, h)
      val expected =
        if (!interlaced) (rowBytes + 1) * h
        else dims.map { case (pw, ph) =>
          if (pw > 0 && ph > 0) (rbOf(pw) + 1) * ph else 0
        }.sum
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      val raw = new Array[Byte](expected)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return None // short stream
        off += n
      }
      inf.end()
      if (off != raw.length) return None
      // unpack one (sub-)image's defiltered sub-byte rows to one byte
      // per sample, MSB-first within each byte (spec §7.2); row
      // padding bits are skipped by the per-row byte width
      def unpack(u: Array[Byte], wPx: Int, rows: Int): Array[Byte] = {
        val rb = rbOf(wPx)
        val mask = (1 << depth) - 1
        val out = new Array[Byte](wPx * rows)
        var y = 0
        while (y < rows) {
          var x = 0
          while (x < wPx) {
            val bit = x * depth
            out(y * wPx + x) =
              ((u(y * rb + (bit >> 3)) >> (8 - depth - (bit & 7))) & mask).toByte
            x += 1
          }
          y += 1
        }
        out
      }
      val un =
        if (!interlaced) {
          val u = defilter(raw, 0, w, h)
          if (u == null) return None
          if (depth < 8) unpack(u, w, h) else u
        } else {
          // sub-byte passes are unpacked BEFORE the merge — bit
          // packing never aligns across Adam7 passes, so the merged
          // canvas is per-sample bytes (depth<8) or per-pixel byte
          // groups (depth>=8)
          val full = new Array[Byte]((if (depth < 8) w else rowBytes) * h)
          var base = 0
          var p = 0
          while (p < 7) {
            val (x0, y0, dx, dy) = Adam7(p)
            val (pw, ph) = dims(p)
            if (pw > 0 && ph > 0) {
              val pu0 = defilter(raw, base, pw, ph)
              if (pu0 == null) return None
              base += (rbOf(pw) + 1) * ph
              val pu = if (depth < 8) unpack(pu0, pw, ph) else pu0
              val step = if (depth < 8) 1 else bpp
              var py = 0
              while (py < ph) {
                var px = 0
                while (px < pw) {
                  val dest = ((y0 + py * dy) * w + (x0 + px * dx)) * step
                  var ch = 0
                  while (ch < step) {
                    full(dest + ch) = pu((py * pw + px) * step + ch)
                    ch += 1
                  }
                  px += 1
                }
                py += 1
              }
            }
            p += 1
          }
          full
        }
      // 16-bit samples downconvert to their high byte (the standard
      // 8-bit rendering; ImageIO's 16-bit raster >> 8 agrees, spec'd);
      // sub-byte GRAY samples scale by bit replication (v·255/max —
      // the spec's sample-depth scaling, what every renderer shows);
      // sub-byte PALETTE samples are indices and stay raw
      val un8 =
        if (depth == 8) un
        else if (depth < 8) {
          if (colorType != 0) un
          else {
            val factor = 255 / ((1 << depth) - 1)
            val o = new Array[Byte](un.length)
            var j = 0
            while (j < o.length) { o(j) = ((un(j) & 0xff) * factor).toByte; j += 1 }
            o
          }
        } else {
          val o = new Array[Byte](un.length / 2)
          var j = 0
          while (j < o.length) { o(j) = un(2 * j); j += 1 }
          o
        }
      colorType match {
        case 0 => Some((w, h, 1, un8))
        case 2 => Some((w, h, 3, un8))
        case 3 => // palette indices → RGB
          val nPal = plte.length / 3
          val out = new Array[Byte](w * h * 3)
          var j = 0
          while (j < w * h) {
            val p = un8(j) & 0xff
            if (p >= nPal) return None
            out(3 * j) = plte(3 * p)
            out(3 * j + 1) = plte(3 * p + 1)
            out(3 * j + 2) = plte(3 * p + 2)
            j += 1
          }
          Some((w, h, 3, out))
        case 4 | 6 => // strip the alpha channel from each pixel
          val out = new Array[Byte](w * h * outCh)
          var j = 0
          while (j < w * h) {
            var c = 0
            while (c < outCh) {
              out(j * outCh + c) = un8(j * pixCh + c)
              c += 1
            }
            j += 1
          }
          Some((w, h, outCh, out))
      }
    } catch { case _: Exception => None }

    /** Decode an uncompressed bottom-up 24bpp BMP to grayscale
      * (channel average — exact when r=g=b). */
    def decodeBmp(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      decodeBmpImage(b).map { case (w, h, _, px) =>
        val out = new Array[Byte](w * h)
        var j = 0
        while (j < w * h) {
          out(j) = (((px(3 * j) & 0xff) + (px(3 * j + 1) & 0xff) +
            (px(3 * j + 2) & 0xff)) / 3).toByte
          j += 1
        }
        (w, h, out)
      }

    /** Decode an uncompressed bottom-up 24bpp BMP to (w, h, 3,
      * interleaved RGB) — the stored BGR is flipped to RGB. */
    def decodeBmpImage(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = try {
      if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val off = u32le(b, 10)
      val w = u32le(b, 18)
      val h = u32le(b, 22)
      if (w <= 0 || h <= 0 || u16le(b, 28) != 24 || u32le(b, 30) != 0) return None
      // same untrusted-header guard as PNG; also keeps w*3 / w*h in Int range
      if (w > MaxDim || h > MaxDim || w.toLong * h * 3 > MaxPixels) return None
      val stride = ((w * 3 + 3) / 4) * 4
      if (off + stride.toLong * h > b.length) return None // truncated
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val src = off + (h - 1 - y) * stride // bottom-up storage
        var x = 0
        while (x < w) {
          val o = (y * w + x) * 3
          out(o) = b(src + x * 3 + 2)     // R
          out(o + 1) = b(src + x * 3 + 1) // G
          out(o + 2) = b(src + x * 3)     // B
          x += 1
        }
        y += 1
      }
      Some((w, h, 3, out))
    } catch { case _: Exception => None }

    /** Decode the first image of a GIF87a/89a to grayscale: global or
      * local color table, genuine LZW (variable-width codes, clear
      * and end-of-information handling, the KwKwK just-defined-code
      * case, 12-bit table cap with deferred-clear tolerance), optional
      * interlace reorder; palette entries collapse by channel average
      * (exact when the palette is gray). Graphic-control transparency
      * is honored (transparent pixels keep the background), other
      * extensions are skipped. */
    def decodeGif(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
      gifFrames(b, maxFrames = 1).map { case (w, h, fs) => (w, h, fs.head) }

    /** ALL frames of a (possibly animated) GIF, COMPOSITED per the
      * GIF89a rendering model — the video tier with REAL pixel
      * payloads. Each emitted frame is the full logical-screen canvas
      * after drawing that image block: partial-update rects land at
      * their (left, top) offsets, graphic-control transparency leaves
      * the underlying canvas visible, and disposal methods are applied
      * between frames — 0/1 leave the canvas, 2 restores the frame's
      * rect to the background color, 3 restores the canvas to its
      * pre-frame state. Out-of-bounds rects and palette overruns
      * return None rather than a silently wrong composite. */
    def decodeGifFrames(b: Array[Byte]): Option[(Int, Int, Vector[Array[Byte]])] =
      gifFrames(b, maxFrames = Int.MaxValue)

    /** First composited GIF frame in RGB — palette entries kept as
      * their actual (r, g, b) triples instead of the gray average.
      * Same canvas model as [[decodeGifFrames]]. */
    def decodeGifImage(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
      gifFrames(b, maxFrames = 1, rgb = true)
        .map { case (w, h, fs) => (w, h, 3, fs.head) }

    private def gifFrames(b: Array[Byte],
        maxFrames: Int, rgb: Boolean = false): Option[(Int, Int, Vector[Array[Byte]])] = try {
      if (b == null || b.length < 13) return None
      if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
      var i = 6
      val sw = u16le(b, i); val sh = u16le(b, i + 2) // logical screen
      val flags = b(i + 4) & 0xff
      val bgIndex = b(i + 5) & 0xff
      i += 7
      if (sw <= 0 || sh <= 0) return None
      if (sw > MaxDim || sh > MaxDim || sw.toLong * sh > MaxPixels) return None
      var palette: Array[Byte] = null
      if ((flags & 0x80) != 0) {
        val n = 2 << (flags & 7)
        if (i + 3 * n > b.length) return None
        palette = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
        i += 3 * n
      }
      val ch = if (rgb) 3 else 1
      def grayOf(pal: Array[Byte], p: Int): Byte =
        (((pal(3 * p) & 0xff) + (pal(3 * p + 1) & 0xff) +
          (pal(3 * p + 2) & 0xff)) / 3).toByte
      // write palette entry p at pixel offset o (gray average or RGB)
      def putPixel(canvas: Array[Byte], o: Int, pal: Array[Byte], p: Int): Unit =
        if (rgb) {
          canvas(3 * o) = pal(3 * p)
          canvas(3 * o + 1) = pal(3 * p + 1)
          canvas(3 * o + 2) = pal(3 * p + 2)
        } else canvas(o) = grayOf(pal, p)
      // canvas = logical screen, initialized to the background color
      // (bg index through the GCT; black when absent or out of range)
      val bgPix: Array[Byte] =
        if (palette != null && bgIndex < palette.length / 3) {
          if (rgb) Array(palette(3 * bgIndex), palette(3 * bgIndex + 1), palette(3 * bgIndex + 2))
          else Array(grayOf(palette, bgIndex))
        } else new Array[Byte](ch)
      val canvas = new Array[Byte](sw * sh * ch)
      var bi = 0
      while (bi < sw * sh) {
        var bc = 0
        while (bc < ch) { canvas(bi * ch + bc) = bgPix(bc); bc += 1 }
        bi += 1
      }
      // graphic-control state for the NEXT image block (then reset)
      var disposal = 0
      var transIdx = -1
      var frames = Vector.empty[Array[Byte]]
      while (i < b.length) {
        (b(i) & 0xff) match {
          case 0x3b => // trailer
            return if (frames.nonEmpty) Some((sw, sh, frames)) else None
          case 0x21 => // extension: label byte + data sub-blocks
            val label = if (i + 1 < b.length) b(i + 1) & 0xff else -1
            if (label == 0xf9 && i + 7 < b.length && (b(i + 2) & 0xff) >= 4) {
              // graphic control: packed(disposal bits 2-4, transparent
              // flag bit 0), delay(2), transparent index
              val packed = b(i + 3) & 0xff
              disposal = (packed >> 2) & 0x07
              transIdx = if ((packed & 1) != 0) b(i + 6) & 0xff else -1
            }
            i += 2
            while (i < b.length && (b(i) & 0xff) != 0) i += 1 + (b(i) & 0xff)
            i += 1
          case 0x2c =>
            if (i + 10 > b.length) return None
            val left = u16le(b, i + 1); val top = u16le(b, i + 3)
            val w = u16le(b, i + 5); val h = u16le(b, i + 7)
            val iflags = b(i + 9) & 0xff
            i += 10
            var pal = palette
            if ((iflags & 0x80) != 0) { // local color table wins
              val n = 2 << (iflags & 7)
              if (i + 3 * n > b.length) return None
              pal = java.util.Arrays.copyOfRange(b, i, i + 3 * n)
              i += 3 * n
            }
            if (pal == null || w <= 0 || h <= 0) return None
            if (left + w > sw || top + h > sh) return None // rect escapes screen
            if (i >= b.length) return None
            val minCode = b(i) & 0xff; i += 1
            if (minCode < 2 || minCode > 8) return None
            val data = new java.io.ByteArrayOutputStream()
            while (i < b.length && (b(i) & 0xff) != 0) {
              val n = b(i) & 0xff
              if (i + 1 + n > b.length) return None // truncated sub-block
              data.write(b, i + 1, n); i += 1 + n
            }
            if (i >= b.length) return None // missing block terminator
            i += 1 // past the terminator, on to the next block
            val idx = lzwDecode(data.toByteArray, minCode, w * h) match {
              case Some(v) => v
              case None => return None
            }
            val ordered =
              if ((iflags & 0x40) == 0) idx
              else { // 4-pass interlace: rows 0/8…, 4/8…, 2/4…, 1/2…
                val o = new Array[Byte](w * h)
                var src = 0
                Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
                  var y = start
                  while (y < h) {
                    System.arraycopy(idx, src * w, o, y * w, w)
                    src += 1; y += step
                  }
                }
                o
              }
            val nPal = pal.length / 3
            // disposal 3 needs the pre-frame canvas back afterwards
            val saved = if (disposal == 3) canvas.clone() else null
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = ordered(y * w + x) & 0xff
                if (p >= nPal) return None
                if (p != transIdx) // transparent pixels keep the canvas
                  putPixel(canvas, (top + y) * sw + left + x, pal, p)
                x += 1
              }
              y += 1
            }
            frames :+= canvas.clone()
            if (frames.length >= maxFrames) return Some((sw, sh, frames))
            disposal match {
              case 2 => // restore the frame's rect to background
                var yy = 0
                while (yy < h) {
                  var xx = 0
                  while (xx < w) {
                    val o = ((top + yy) * sw + left + xx) * ch
                    var bc = 0
                    while (bc < ch) { canvas(o + bc) = bgPix(bc); bc += 1 }
                    xx += 1
                  }
                  yy += 1
                }
              case 3 => // restore to the pre-frame canvas
                System.arraycopy(saved, 0, canvas, 0, canvas.length)
              case _ => () // 0/1: leave as drawn
            }
            disposal = 0; transIdx = -1 // GCE applies to one image only
          case _ => return None
        }
      }
      None // ran off the end without a trailer
    } catch { case _: Exception => None }

    /** GIF LZW decode to exactly `maxOut` indices (one per pixel).
      * Mirrors [[MiniEncoder.lzwEncode]]'s width discipline from the
      * decoder side: grow at `next == 1<<width` (the decoder's table
      * lags the encoder's by one code). */
    private def lzwDecode(data: Array[Byte], minCodeSize: Int,
        maxOut: Int): Option[Array[Byte]] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      var c = 0
      while (c < clear) { suffix(c) = c.toByte; c += 1 }
      val out = new java.io.ByteArrayOutputStream(maxOut)
      val stack = new Array[Byte](4097)
      var width = minCodeSize + 1
      var next = eoi + 1
      var prev = -1
      var bitpos = 0L
      val totalBits = data.length.toLong * 8
      while (true) {
        if (bitpos + width > totalBits) return None // truncated stream
        var v = 0; var k = 0
        while (k < width) {
          val bp = bitpos + k
          if (((data((bp >> 3).toInt) >> (bp & 7).toInt) & 1) != 0) v |= 1 << k
          k += 1
        }
        bitpos += width
        if (v == clear) { next = eoi + 1; width = minCodeSize + 1; prev = -1 }
        else if (v == eoi)
          return if (out.size == maxOut) Some(out.toByteArray) else None
        else if (prev < 0) {
          if (v >= clear) return None // first code must be a literal
          out.write(v)
          prev = v
        } else {
          if (v > next || v >= 4096) return None // undefined code
          val base = if (v == next) prev else v // KwKwK: expand prev
          var cc = base; var n = 0
          while (cc >= clear) { stack(n) = suffix(cc); n += 1; cc = prefix(cc) }
          stack(n) = suffix(cc); n += 1
          val first = stack(n - 1)
          var t = n - 1
          while (t >= 0) { out.write(stack(t)); t -= 1 }
          if (v == next) out.write(first)
          if (out.size > maxOut) return None // more pixels than the frame
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = first
            next += 1
            if (next == (1 << width) && width < 12) width += 1
          }
          prev = v
        }
      }
      None
    }

    /** Signature-dispatched GRAYSCALE decode (the original tier
      * contract — color payloads that can't collapse to gray, like
      * color JPEG, return None here; use [[decodeImage]]). */
    def decode(b: Array[Byte]): Option[(String, Int, Int, Array[Byte])] =
      if (b != null && b.length >= 8 &&
        b.take(8).sameElements(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)))
        decodePng(b).map { case (w, h, px) => ("png", w, h, px) }
      else if (b != null && b.length >= 2 && b(0) == 'B' && b(1) == 'M')
        decodeBmp(b).map { case (w, h, px) => ("bmp", w, h, px) }
      else if (b != null && b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
        decodeGif(b).map { case (w, h, px) => ("gif", w, h, px) }
      else if (b != null && b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
        JpegCodec.decodeGray(b).map { case (w, h, px) => ("jpeg", w, h, px) }
      else None

    /** Signature-dispatched COLOR-AWARE decode: (format, w, h,
      * channels, pixels) with channels 1 (gray) or 3 (interleaved
      * RGB). PNG truecolor/palette, BMP RGB, GIF palette-RGB
      * (composited first frame) and JPEG gray/YCbCr all decode;
      * grayscale payloads keep channels=1 where the container says so
      * (gray PNG, 1-component JPEG) — GIF and BMP are palette/RGB
      * containers and always emit 3. */
    def decodeImage(b: Array[Byte]): Option[(String, Int, Int, Int, Array[Byte])] =
      if (b != null && b.length >= 8 &&
        b.take(8).sameElements(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)))
        decodePngImage(b).map { case (w, h, ch, px) => ("png", w, h, ch, px) }
      else if (b != null && b.length >= 2 && b(0) == 'B' && b(1) == 'M')
        decodeBmpImage(b).map { case (w, h, ch, px) => ("bmp", w, h, ch, px) }
      else if (b != null && b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
        decodeGifImage(b).map { case (w, h, ch, px) => ("gif", w, h, ch, px) }
      else if (b != null && b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
        JpegCodec.decodeImage(b).map { case (w, h, ch, px) => ("jpeg", w, h, ch, px) }
      else None
  }

  /** REAL PCM WAV sample decode, pure JVM: a proper RIFF chunk walk
    * (unknown chunks skipped, word-aligned) to `fmt ` + `data`,
    * PCM format 1 at 8/16/24/32 bits, interleaved channels,
    * little-endian. Every width is normalized to int16 samples the
    * deterministic way — 8-bit unsigned: `(v − 128) << 8`; 16-bit:
    * exact; 24/32-bit signed: arithmetic shift keeping the top 16
    * bits — so downstream statistics share one scale. The audio
    * analog of [[PixelCodec]]. */
  object WavCodec {
    private def u16le(b: Array[Byte], i: Int) =
      ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    private def u32le(b: Array[Byte], i: Int) =
      ((b(i + 3) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) | ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
    private def tag(b: Array[Byte], i: Int, s: String) =
      b.length >= i + 4 && s.indices.forall(j => b(i + j) == s.charAt(j).toByte)

    /** (sampleRate, channels, interleaved samples); None on anything
      * that isn't complete 16-bit PCM. */
    def decode(b: Array[Byte]): Option[(Int, Int, Array[Short])] = try {
      if (b == null || b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE"))
        return None
      var i = 12
      var rate = 0; var channels = 0; var bps = 0
      var samples: Array[Short] = null
      while (i + 8 <= b.length) {
        val size = u32le(b, i + 4)
        if (size < 0 || i + 8 + size > b.length) return None // truncated chunk
        if (tag(b, i, "fmt ")) {
          if (size < 16) return None
          if (u16le(b, i + 8) != 1) return None // PCM only
          channels = u16le(b, i + 10)
          rate = u32le(b, i + 12)
          bps = u16le(b, i + 22)
        } else if (tag(b, i, "data")) {
          if (channels <= 0) return None // fmt must precede data
          val bytesPer = bps / 8
          if (bps != 8 && bps != 16 && bps != 24 && bps != 32) return None
          if (size % bytesPer != 0) return None
          samples = new Array[Short](size / bytesPer)
          var j = 0
          while (j < samples.length) {
            val o = i + 8 + bytesPer * j
            samples(j) = bps match {
              case 8 => (((b(o) & 0xff) - 128) << 8).toShort // unsigned
              case 16 => u16le(b, o).toShort
              case 24 => // signed 24-bit LE, keep top 16 bits
                ((((b(o + 2) & 0xff) << 16) | ((b(o + 1) & 0xff) << 8) |
                  (b(o) & 0xff)) << 8 >> 16).toShort
              case 32 => // signed 32-bit LE, keep top 16 bits
                (u32le(b, o) >> 16).toShort
            }
            j += 1
          }
        }
        i += 8 + size + (size & 1) // RIFF chunks are word-aligned
      }
      if (samples == null) None else Some((rate, channels, samples))
    } catch { case _: Exception => None }
  }

  case class SampleMeta(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, sample_sum: Long, sample_min: Int, sample_max: Int,
      valid: Boolean)
  implicit val sampleEnc: Encoder[SampleMeta] = Encoders.product[SampleMeta]

  /** Per-partition REAL sample decode → per-file sample statistics
    * (the audio twin of [[decodePixels]]); corrupt rows mark invalid,
    * never fail the stage. */
  def decodeSamples(media: Dataset[MediaFile]): Dataset[SampleMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        WavCodec.decode(m.content) match {
          case Some((rate, ch, xs)) =>
            var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
            var i = 0
            while (i < xs.length) {
              val v = xs(i).toInt
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            SampleMeta(m.doc_id, rate, ch, xs.length.toLong, sum,
              if (xs.isEmpty) 0 else mn, if (xs.isEmpty) 0 else mx, valid = true)
          case None =>
            SampleMeta(m.doc_id, 0, 0, 0L, 0L, 0, 0, valid = false)
        }
      }
    }(sampleEnc)

  case class AudioFeat(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, rms: Double, zero_crossings: Long, peak: Int,
      valid: Boolean)
  implicit val audioFeatEnc: Encoder[AudioFeat] = Encoders.product[AudioFeat]

  /** Per-partition REAL audio feature extraction over the decoded PCM
    * samples — the features a training-data pipeline filters on:
    * RMS energy (`sqrt(Σv²/n)`, sum-of-squares carried exactly in a
    * Long so the double math is deterministic), zero-crossing count
    * (sign transitions between consecutive FRAMES per channel, summed
    * over channels; sign treats 0 as positive), and peak amplitude
    * (`max |v|`). Map-side, corrupt rows mark invalid. */
  def audioFeatures(media: Dataset[MediaFile]): Dataset[AudioFeat] =
    media.mapPartitions { iter =>
      iter.map { m =>
        WavCodec.decode(m.content) match {
          case Some((rate, ch, xs)) =>
            var sumSq = 0L; var peak = 0; var zc = 0L
            var i = 0
            while (i < xs.length) {
              val v = xs(i).toInt
              sumSq += v.toLong * v
              val a = math.abs(v)
              if (a > peak) peak = a
              i += 1
            }
            val frames = if (ch > 0) xs.length / ch else 0
            var c = 0
            while (c < ch) {
              var f = 1
              while (f < frames) {
                val cur = xs(f * ch + c) >= 0
                val prev = xs((f - 1) * ch + c) >= 0
                if (cur != prev) zc += 1
                f += 1
              }
              c += 1
            }
            val rms = if (xs.isEmpty) 0.0 else math.sqrt(sumSq.toDouble / xs.length)
            AudioFeat(m.doc_id, rate, ch, xs.length.toLong, rms, zc, peak, valid = true)
          case None =>
            AudioFeat(m.doc_id, 0, 0, 0L, 0.0, 0L, 0, valid = false)
        }
      }
    }(audioFeatEnc)

  case class AudioHash(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, ehash: Long, ehash_hex: String, valid: Boolean)
  implicit val audioHashEnc: Encoder[AudioHash] = Encoders.product[AudioHash]

  /** Energy-difference audio fingerprint — the [[perceptualHash]]
    * analog over PCM (the sign-of-change family Chromaprint builds
    * on, over time-windowed energies instead of spectral bins, so no
    * FFT dependency): the decoded sample stream splits into 65 equal
    * windows (`window(j) = j·65/n`, integer floor — mirrored
    * verbatim by the q114 twin), per-window energy `e = Σ v²`
    * (exact in a Long), bit i = `e(i+1) > e(i)`, packed MSB-first —
    * 64 bits whose hex rendering is the 8 byte-groups in order.
    * A re-encoded copy (different container/bit depth normalizing to
    * the same 16-bit samples) fingerprints identically; light noise
    * moves a few hamming bits. Map-side; corrupt → invalid. */
  def audioFingerprint(media: Dataset[MediaFile]): Dataset[AudioHash] =
    media.mapPartitions { iter =>
      iter.map { m =>
        WavCodec.decode(m.content) match {
          case Some((rate, ch, xs)) if xs.nonEmpty =>
            val e = new Array[Long](65)
            val n = xs.length.toLong
            var j = 0
            while (j < xs.length) {
              val v = xs(j).toLong
              e(((j * 65L) / n).toInt) += v * v
              j += 1
            }
            var hash = 0L
            var i = 0
            while (i < 64) {
              hash = (hash << 1) | (if (e(i + 1) > e(i)) 1L else 0L)
              i += 1
            }
            AudioHash(m.doc_id, rate, ch, n, hash, f"$hash%016x", valid = true)
          case _ => AudioHash(m.doc_id, 0, 0, 0L, 0L, "", valid = false)
        }
      }
    }(audioHashEnc)

  /** Audio near-duplicate pairs: [[audioFingerprint]] signatures
    * through [[Dedup.hammingCandidates]] — the third modality on the
    * ONE banded pigeonhole kernel (text SimHash, image dHash, audio
    * energy hash). */
  def audioNearDuplicates(media: Dataset[MediaFile],
      maxDistance: Int = 7, bands: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    Dedup.hammingCandidates(
      audioFingerprint(media).filter(col("valid"))
        .select(col("doc_id").as("id"), col("ehash").as("sh")),
      width = 64, maxDistance = maxDistance, bands = bands, maxBucket = maxBucket)

  case class FrameStat(doc_id: Long, frame_index: Int, width: Int, height: Int,
      pixel_sum: Long, pixel_min: Int, pixel_max: Int)
  implicit val frameStatEnc: Encoder[FrameStat] = Encoders.product[FrameStat]

  /** REAL frame sampling: decode the animated-GIF frames and emit
    * every `stride`-th one's statistics — [[sampleFrames]] with the
    * stub payload replaced by actually-decoded rasters. Fan-out stays
    * bounded by n_frames/stride and runs map-side; corrupt or
    * partial-frame files yield no rows. */
  def frameStats(media: Dataset[MediaFile], stride: Int): Dataset[FrameStat] =
    media.mapPartitions { iter =>
      iter.flatMap { m =>
        PixelCodec.decodeGifFrames(m.content) match {
          case Some((w, h, frames)) =>
            (0 until frames.length by stride).map { f =>
              val px = frames(f)
              var sum = 0L; var mn = 255; var mx = 0
              var i = 0
              while (i < px.length) {
                val v = px(i) & 0xff
                sum += v; if (v < mn) mn = v; if (v > mx) mx = v
                i += 1
              }
              FrameStat(m.doc_id, f, w, h, sum,
                if (px.isEmpty) 0 else mn, if (px.isEmpty) 0 else mx)
            }
          case None => Seq.empty
        }
      }
    }(frameStatEnc)

  /** Per-partition REAL pixel decode → per-image pixel statistics
    * (sum/min/max over the decoded grayscale raster — the compact,
    * oracle-checkable proof the decode is right). Corrupt rows mark
    * invalid, never fail the stage — the same seam as [[decodeMeta]]. */
  def decodePixels(media: Dataset[MediaFile]): Dataset[PixelMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        PixelCodec.decode(m.content) match {
          case Some((fmt, w, h, px)) =>
            var sum = 0L; var mn = 255; var mx = 0
            var i = 0
            while (i < px.length) {
              val v = px(i) & 0xff
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            PixelMeta(m.doc_id, fmt, w, h, px.length.toLong, sum,
              if (px.isEmpty) 0 else mn, if (px.isEmpty) 0 else mx, valid = true)
          case None =>
            PixelMeta(m.doc_id, "unknown", 0, 0, 0L, 0L, 0, 0, valid = false)
        }
      }
    }(pixelEnc)

  /** Per-partition 12-bit JPEG decode → sample statistics over the
    * native 0–4095 range ([[JpegCodec.decode12]]). Map-side, corrupt
    * rows mark invalid — the same shape as [[decodePixels]] at the
    * wider depth. */
  def decode12Stats(media: Dataset[MediaFile]): Dataset[HiDepthMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        JpegCodec.decode12(m.content) match {
          case Some((w, h, ch, px)) =>
            var sum = 0L; var mn = 4095; var mx = 0
            var i = 0
            while (i < px.length) {
              val v = px(i) & 0xffff
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            HiDepthMeta(m.doc_id, "jpeg", w, h, ch, 12, px.length.toLong, sum,
              if (px.isEmpty) 0 else mn, if (px.isEmpty) 0 else mx, valid = true)
          case None =>
            HiDepthMeta(m.doc_id, "unknown", 0, 0, 0, 0, 0L, 0L, 0, 0, valid = false)
        }
      }
    }(hiDepthEnc)

  /** Per-partition LOSSLESS JPEG decode → sample statistics
    * ([[JpegCodec.decodeLossless]]): predictive SOF3 at its native
    * 2–16 bit range. Map-side, corrupt rows mark invalid. */
  def decodeLosslessStats(media: Dataset[MediaFile]): Dataset[HiDepthMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        JpegCodec.decodeLossless(m.content) match {
          case Some((w, h, ch, px, prec)) =>
            var sum = 0L; var mn = 65535; var mx = 0
            var i = 0
            while (i < px.length) {
              val v = px(i)
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              i += 1
            }
            HiDepthMeta(m.doc_id, "jpeg", w, h, ch, prec, px.length.toLong, sum,
              if (px.isEmpty) 0 else mn, if (px.isEmpty) 0 else mx, valid = true)
          case None =>
            HiDepthMeta(m.doc_id, "unknown", 0, 0, 0, 0, 0L, 0L, 0, 0, valid = false)
        }
      }
    }(hiDepthEnc)

  case class ColorPixelMeta(doc_id: Long, format: String, width: Int, height: Int,
      n_pixels: Long, r_sum: Long, g_sum: Long, b_sum: Long,
      r_min: Int, r_max: Int, g_min: Int, g_max: Int, b_min: Int, b_max: Int,
      valid: Boolean)
  implicit val colorPixelEnc: Encoder[ColorPixelMeta] = Encoders.product[ColorPixelMeta]

  /** Per-partition REAL color decode → per-channel pixel statistics
    * (sum/min/max per R/G/B — the per-channel analog of
    * [[decodePixels]]'s compact proof). Dispatches across every
    * color-capable codec ([[PixelCodec.decodeImage]]: PNG truecolor/
    * palette, BMP RGB, GIF palette-RGB, JPEG gray/YCbCr); a grayscale
    * payload contributes its luma to all three channels (r = g = b).
    * Map-side, corrupt rows mark invalid. */
  def decodeColorPixels(media: Dataset[MediaFile]): Dataset[ColorPixelMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        PixelCodec.decodeImage(m.content) match {
          case Some((fmt, w, h, ch, px)) =>
            var rs = 0L; var gs = 0L; var bs = 0L
            var rmn = 255; var rmx = 0; var gmn = 255; var gmx = 0
            var bmn = 255; var bmx = 0
            val n = w * h
            var i = 0
            while (i < n) {
              val (r, g, b2) =
                if (ch == 3) (px(3 * i) & 0xff, px(3 * i + 1) & 0xff, px(3 * i + 2) & 0xff)
                else { val v = px(i) & 0xff; (v, v, v) }
              rs += r; if (r < rmn) rmn = r; if (r > rmx) rmx = r
              gs += g; if (g < gmn) gmn = g; if (g > gmx) gmx = g
              bs += b2; if (b2 < bmn) bmn = b2; if (b2 > bmx) bmx = b2
              i += 1
            }
            ColorPixelMeta(m.doc_id, fmt, w, h, n.toLong, rs, gs, bs,
              if (n == 0) 0 else rmn, if (n == 0) 0 else rmx,
              if (n == 0) 0 else gmn, if (n == 0) 0 else gmx,
              if (n == 0) 0 else bmn, if (n == 0) 0 else bmx, valid = true)
          case None =>
            ColorPixelMeta(m.doc_id, "unknown", 0, 0, 0L, 0L, 0L, 0L,
              0, 0, 0, 0, 0, 0, valid = false)
        }
      }
    }(colorPixelEnc)

  case class ResizedMeta(doc_id: Long, format: String, src_width: Int, src_height: Int,
      out_width: Int, out_height: Int, pixel_sum: Long, pixel_min: Int, pixel_max: Int,
      valid: Boolean)
  implicit val resizedEnc: Encoder[ResizedMeta] = Encoders.product[ResizedMeta]

  /** REAL resize over the decoded raster: nearest-neighbor to a fixed
    * `outW×outH` (source pixel = `(x·srcW/outW, y·srcH/outH)`, integer
    * floor — the deterministic choice an oracle can reproduce), then
    * the same compact pixel statistics as [[decodePixels]]. Map-side
    * per partition, corrupt rows mark invalid. The thumbnail/training
    * path: decode → resize → feature-extract without the raster ever
    * leaving the task. */
  def resizePixels(media: Dataset[MediaFile], outW: Int, outH: Int): Dataset[ResizedMeta] =
    media.mapPartitions { iter =>
      iter.map { m =>
        PixelCodec.decode(m.content) match {
          case Some((fmt, w, h, px)) =>
            var sum = 0L; var mn = 255; var mx = 0
            var y = 0
            while (y < outH) {
              val sy = y * h / outH
              var x = 0
              while (x < outW) {
                val v = px(sy * w + x * w / outW) & 0xff
                sum += v; if (v < mn) mn = v; if (v > mx) mx = v
                x += 1
              }
              y += 1
            }
            ResizedMeta(m.doc_id, fmt, w, h, outW, outH, sum, mn, mx, valid = true)
          case None =>
            ResizedMeta(m.doc_id, "unknown", 0, 0, 0, 0, 0L, 0, 0, valid = false)
        }
      }
    }(resizedEnc)

  case class PixelFeature(doc_id: Long, bin: Int, n: Long)
  implicit val pixelFeatureEnc: Encoder[PixelFeature] = Encoders.product[PixelFeature]

  /** REAL feature extraction from the decoded raster: the normalized
    * grayscale histogram (`bins` equal-width buckets over 0..255) —
    * the classic cheap visual descriptor, joinable to the embedding
    * operators ([[graft.operators.Similarity]]) once pivoted to a
    * vector. Long format (doc_id, bin, n), one row per NON-EMPTY bin,
    * map-side per partition; corrupt rows yield no bins. Upgrades the
    * [[features]] stub to real pixels for the PNG/BMP tier. */
  def pixelHistogram(media: Dataset[MediaFile], bins: Int = 8): Dataset[PixelFeature] =
    media.mapPartitions { iter =>
      val width = 256 / bins
      iter.flatMap { m =>
        PixelCodec.decode(m.content) match {
          case Some((_, _, _, px)) =>
            val counts = new Array[Long](bins)
            var i = 0
            while (i < px.length) {
              val b = math.min((px(i) & 0xff) / width, bins - 1)
              counts(b) += 1
              i += 1
            }
            (0 until bins).filter(counts(_) > 0)
              .map(b => PixelFeature(m.doc_id, b, counts(b)))
          case None => Seq.empty
        }
      }
    }(pixelFeatureEnc)

  /** REAL image-feature vectors: the normalized grayscale histogram
    * of the actually-decoded raster as a fixed-dim float vector — the
    * decoded-raster replacement for the [[features]] stub, shaped to
    * join every [[Similarity]] operator (brute-force/LSH/IVF top-k,
    * cosine near-dup) so the multimodal tier feeds the embedding
    * pipeline end-to-end. Map-side; corrupt rows yield no vector. */
  def pixelFeatureVectors(media: Dataset[MediaFile], bins: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      val width = 256 / bins
      iter.flatMap { m =>
        PixelCodec.decode(m.content).map { case (_, _, _, px) =>
          val counts = new Array[Long](bins)
          var i = 0
          while (i < px.length) {
            counts(math.min((px(i) & 0xff) / width, bins - 1)) += 1
            i += 1
          }
          val n = px.length.toDouble
          (m.doc_id, counts.map(c => (c / n).toFloat))
        }
      }
    }.toDF("doc_id", "feature")
  }

  case class PHash(doc_id: Long, fmt: String, w: Int, h: Int,
      dhash: Long, dhash_hex: String, valid: Boolean)
  implicit val pHashEnc: Encoder[PHash] = Encoders.product[PHash]

  /** dHash perceptual fingerprint of the decoded raster — the
    * classic image-dedup primitive (difference hash: a near-dup
    * image, recompressed/resized/slightly edited, lands within a few
    * hamming bits; an unrelated image lands ~32 away). Exact layout,
    * mirrored bit-for-bit by the q111 twin:
    * 9×8 nearest-neighbor grayscale thumbnail (the [[resizePixels]]
    * sampling rule: source pixel `(x·w/9, y·h/8)`, integer floor),
    * bit(x,y) = t(x+1,y) > t(x,y) for x<8, packed MSB-first row by
    * row — so the hex rendering is the 8 row-bytes in order, and the
    * 64-bit value's byte `7−y` is row `y`. Map-side per partition;
    * corrupt payloads yield `valid=false`. The hex string exists for
    * gating (a signed 64-bit crosses engines awkwardly; the hex is
    * its canonical unsigned rendering). */
  /** The dHash kernel over one grayscale raster — shared by
    * [[perceptualHash]] (still images) and [[videoFingerprints]]
    * (per frame). */
  private[operators] def dhashOf(px: Array[Byte], w: Int, h: Int): Long = {
    val tw = 9; val th = 8
    val t = new Array[Int](tw * th)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) { t(y * tw + x) = px(sy * w + x * w / tw) & 0xff; x += 1 }
      y += 1
    }
    var hash = 0L
    y = 0
    while (y < th) {
      var x = 0
      while (x < 8) {
        hash = (hash << 1) | (if (t(y * tw + x + 1) > t(y * tw + x)) 1L else 0L)
        x += 1
      }
      y += 1
    }
    hash
  }

  def perceptualHash(media: Dataset[MediaFile]): Dataset[PHash] =
    media.mapPartitions { iter =>
      iter.map { m =>
        PixelCodec.decode(m.content) match {
          case Some((fmt, w, h, px)) =>
            val hash = dhashOf(px, w, h)
            PHash(m.doc_id, fmt, w, h, hash, f"$hash%016x", valid = true)
          case None => PHash(m.doc_id, "unknown", 0, 0, 0L, "", valid = false)
        }
      }
    }(pHashEnc)

  case class FramePHash(doc_id: Long, frame_index: Int, w: Int, h: Int,
      dhash: Long, dhash_hex: String)
  implicit val framePHashEnc: Encoder[FramePHash] = Encoders.product[FramePHash]

  /** Per-frame dHash sequence of an animated-GIF "video" — the
    * temporal fingerprint video dedup keys on (every `stride`-th
    * frame through the SAME [[dhashOf]] kernel as still images).
    * Fan-out is n_frames/stride rows per file, map-side; corrupt or
    * partial files yield no rows (the [[frameStats]] contract). */
  def videoFingerprints(media: Dataset[MediaFile], stride: Int = 1): Dataset[FramePHash] =
    media.mapPartitions { iter =>
      iter.flatMap { m =>
        PixelCodec.decodeGifFrames(m.content) match {
          case Some((w, h, frames)) =>
            (0 until frames.length by stride).map { f =>
              val hash = dhashOf(frames(f), w, h)
              FramePHash(m.doc_id, f, w, h, hash, f"$hash%016x")
            }
          case None => Seq.empty
        }
      }
    }(framePHashEnc)

  /** Video near-duplicate pairs: band each frame hash SimHash-style
    * with the frame index IN the bucket key (frames only ever match
    * at the same timeline position — a re-encoded copy aligns), join
    * on (frame, band, chunk), verify per-frame hamming, then count
    * matching frames per video pair. Returns `(id_a, id_b,
    * n_frames_matched)` for pairs with at least `minMatched` frames
    * within `maxDistance`. Same degenerate-bucket cap contract as
    * [[Dedup.hammingCandidates]]; never all-pairs. */
  def videoNearDuplicates(media: Dataset[MediaFile],
      maxDistance: Int = 7, bands: Int = 8, minMatched: Int = 2,
      stride: Int = 1, maxBucket: Int = 1000): DataFrame =
    // r14: the frame-keyed kernel extracted to Dedup (the generic
    // media-curation stream shares it); semantics unchanged
    Dedup.hammingCandidatesFramed(
        videoFingerprints(media, stride)
          .select(col("doc_id").as("id"), col("frame_index").cast("long").as("f"),
            col("dhash").as("sh")),
        width = 64, maxDistance = maxDistance, bands = bands,
        maxBucket = maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minMatched)

  /** Image near-duplicate pairs: [[perceptualHash]] signatures
    * through the SAME banded hamming kernel the text SimHash path
    * uses ([[Dedup.hammingCandidates]] — pigeonhole banding,
    * degenerate-bucket cap, exact distance verify on candidates
    * only; never all-pairs). Default `bands = maxDistance + 1` keeps
    * the pigeonhole guarantee exact. Returns
    * `(id_a, id_b, distance)`. */
  def imageNearDuplicates(media: Dataset[MediaFile],
      maxDistance: Int = 7, bands: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    Dedup.hammingCandidates(
      perceptualHash(media).filter(col("valid"))
        .select(col("doc_id").as("id"), col("dhash").as("sh")),
      width = 64, maxDistance = maxDistance, bands = bands, maxBucket = maxBucket)

  // === Incremental media dedup (persisted hamming indexes, r12) ===
  //
  // The arriving-crawl setting for the media modalities: each
  // accepted batch appends its 64-bit signatures to a persisted
  // index ([[Dedup.hammingWriteIndex]] — family+width marker, loud
  // mismatch refusal, refreshByPath discipline), and the next batch
  // pairs against everything seen so far WITHOUT re-banding or
  // re-decoding the corpus ([[Dedup.incrementalHammingCandidates]]:
  // only batch-touching pairs enter the plan; verification is a
  // popcount on the carried signatures — the media bytes are decoded
  // once, on arrival). Family ids are versioned per EXTRACTOR;
  // probing across extractors is refused by the marker, not left to
  // produce silent garbage.

  val ImageHashFamily = "dhash-v1"
  val AudioHashFamily = "audio-energy-v1"
  val VideoHashFamily = "video-dhash-v1"

  /** `(id, f, sh)` signature rows of a media batch: ONE decode per
    * payload into the kind's 64-bit fingerprint rows — image dHash
    * and audio energy-hash as one `f = 0` row per VALID payload, video
    * as one row per sampled frame (`f` = frame index; an undecodable
    * video yields zero rows). */
  private def sigRows(media: Dataset[MediaFile], kind: String,
      stride: Int = 1): DataFrame = kind match {
    case "image" => perceptualHash(media).filter(col("valid"))
      .select(col("doc_id").as("id"), lit(0L).as("f"), col("dhash").as("sh"))
    case "audio" => audioFingerprint(media).filter(col("valid"))
      .select(col("doc_id").as("id"), lit(0L).as("f"), col("ehash").as("sh"))
    case "video" => videoFingerprints(media, stride)
      .select(col("doc_id").as("id"), col("frame_index").cast("long").as("f"),
        col("dhash").as("sh"))
    case other => throw new IllegalArgumentException(
      s"media kind '$other' (image|audio|video)")
  }

  /** Signature rows `(doc_id, f, sh)` of a `(doc_id, content)` batch
    * for the generic media-curation stream (r14,
    * `DocStream.curateMediaNearDup`): [[sigRows]] of the batch's
    * payloads decoded as `kind` — the same "absent = invalid" census
    * the stream applies to all three kinds. */
  def mediaSigRows(batch: DataFrame, kind: String, stride: Int = 1): DataFrame = {
    val media = batch.select(col("doc_id"), col("content"))
      .as(Encoders.product[(Long, Array[Byte])])
      .map { case (id, bytes) => MediaFile(id, kind, bytes) }(mediaEnc)
    sigRows(media, kind, stride).withColumnRenamed("id", "doc_id")
  }

  /** The persisted-index hash family of a media kind — probes must
    * present the index's family (marker-enforced). */
  def mediaHashFamily(kind: String): String = kind match {
    case "image" => ImageHashFamily
    case "audio" => AudioHashFamily
    case "video" => VideoHashFamily
    case other => throw new IllegalArgumentException(
      s"media kind '$other' (image|audio|video)")
  }

  /** Write (or append) the image dHash index for a media batch. */
  def imageHashIndexWrite(media: Dataset[MediaFile], path: String,
      mode: String = "overwrite", bands: Int = 0, ranges: Int = 64): Unit =
    Dedup.hammingWriteIndex(sigRows(media, "image"), path, ImageHashFamily, 64, mode,
      bands, ranges)

  /** New image batch vs the persisted index (plus itself):
    * `(id_a, id_b, distance)`, batch-touching pairs only. */
  def incrementalImageNearDuplicates(media: Dataset[MediaFile],
      indexPath: String, maxDistance: Int = 7, bands: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    Dedup.incrementalHammingCandidates(media.sparkSession, sigRows(media, "image"),
        indexPath, ImageHashFamily, 64, maxDistance, bands, maxBucket)
      .select(col("id_a"), col("id_b"), col("distance"))

  /** Write (or append) the audio energy-hash index for a media batch. */
  def audioHashIndexWrite(media: Dataset[MediaFile], path: String,
      mode: String = "overwrite", bands: Int = 0, ranges: Int = 64): Unit =
    Dedup.hammingWriteIndex(sigRows(media, "audio"), path, AudioHashFamily, 64, mode,
      bands, ranges)

  /** New audio batch vs the persisted index (plus itself). */
  def incrementalAudioNearDuplicates(media: Dataset[MediaFile],
      indexPath: String, maxDistance: Int = 7, bands: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    Dedup.incrementalHammingCandidates(media.sparkSession, sigRows(media, "audio"),
        indexPath, AudioHashFamily, 64, maxDistance, bands, maxBucket)
      .select(col("id_a"), col("id_b"), col("distance"))

  /** Write (or append) the per-frame video dHash index. `stride`
    * must match between index and probes — frames only ever match at
    * the same timeline position, so a stride change re-labels the
    * frame axis (re-extract under the new stride instead). */
  def videoHashIndexWrite(media: Dataset[MediaFile], path: String,
      stride: Int = 1, mode: String = "overwrite",
      bands: Int = 0, ranges: Int = 64): Unit =
    Dedup.hammingWriteIndex(sigRows(media, "video", stride), path, VideoHashFamily, 64, mode,
      bands, ranges)

  /** New video batch vs the persisted per-frame index: frame-level
    * candidates from the shared incremental kernel (frame index in
    * the bucket key — timeline-aligned matches only), then
    * matched-frame counts per video pair, `n_frames_matched >=
    * minMatched` — the [[videoNearDuplicates]] semantics without
    * re-banding the corpus. */
  def incrementalVideoNearDuplicates(media: Dataset[MediaFile],
      indexPath: String, maxDistance: Int = 7, bands: Int = 8,
      minMatched: Int = 2, stride: Int = 1, maxBucket: Int = 1000): DataFrame =
    Dedup.incrementalHammingCandidates(media.sparkSession,
        sigRows(media, "video", stride), indexPath, VideoHashFamily, 64,
        maxDistance, bands, maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minMatched)

  /** Deterministic real-pixel media: gradient rasters
    * `v(x,y) = (x + y + doc_id) mod 256` written as actual PNG (even
    * ids — every scanline filter type exercised in rotation) or BMP
    * (odd ids); every 25th payload truncated for the corrupt path.
    * The oracle reproduces the same statistics from the formula. */
  def syntheticPixelMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 16 + 1).toInt * 2
      val h = (id % 12 + 1).toInt * 2
      def v(x: Int, y: Int): Int = ((x + y + id) % 256).toInt
      val bytes =
        if (id % 2 == 0) MiniEncoder.pngGray(w, h, v)
        else MiniEncoder.bmp24(w, h, v)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Deterministic SUB-BYTE PNG media (r8): depth 1/2/4 by
    * `doc_id mod 3`, GRAY (even ids — decode scales by bit
    * replication, v·255/max) or PALETTE (odd ids — indices expand
    * through the formula palette `i → ((17i+9)%256, (29i+5)%256,
    * (43i+2)%256)`), Adam7-interlaced every 5th id (same pixels,
    * different container layout — the twin doesn't care). Sample
    * `s(x,y) = (x + y + doc_id) mod 2^depth`; every 25th payload
    * truncated for the corrupt path. The q87 twin recomputes the
    * per-channel statistics from these formulas. */
  def syntheticSubBytePngMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 16 + 1).toInt * 2
      val h = (id % 12 + 1).toInt * 2
      val depth = (id % 3) match { case 0 => 1; case 1 => 2; case _ => 4 }
      val max = (1 << depth) - 1
      def s(x: Int, y: Int): Int = ((x + y + id) % (max + 1)).toInt
      val interlaced = id % 5 == 0
      val bytes =
        if (id % 2 == 0) MiniEncoder.pngGraySub(w, h, depth, interlaced, s)
        else MiniEncoder.pngPaletteSub(w, h, depth,
          Array.tabulate((max + 1) * 3) { j =>
            val i = j / 3
            (j % 3 match {
              case 0 => (17 * i + 9) % 256
              case 1 => (29 * i + 5) % 256
              case _ => (43 * i + 2) % 256
            }).toByte
          }, interlaced, s)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Deterministic GIF media, the [[syntheticPixelMedia]] analog for
    * the LZW tier: the same gradient `v(x,y) = (x + y + doc_id) mod
    * 256` written as a REAL LZW-compressed GIF89a
    * ([[MiniEncoder.gifGray]] — grayscale palette, so index = gray
    * value); every 25th payload truncated for the corrupt path (6
    * bytes = exactly the "GIF89a" signature, which the decoder must
    * still reject). */
  def syntheticGifMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 16 + 1).toInt * 2
      val h = (id % 12 + 1).toInt * 2
      def v(x: Int, y: Int): Int = ((x + y + id) % 256).toInt
      val bytes = MiniEncoder.gifGray(w, h, v)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Deterministic JPEG media with an EXACT reconstruction contract:
    * per-8×8-tile constants, tile (bx,by) = `2·((bx + 3·by + doc_id)
    * mod 128)` — even values survive the DC-only encode bit-exactly
    * ([[JpegCodec]] scaladoc has the arithmetic), so lossy JPEG gets
    * a deterministic formula twin; every 25th payload truncated. */
  def syntheticJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 4 + 1).toInt * 8
      val h = (id % 3 + 1).toInt * 8
      def v(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + id) % 128)).toInt
      val bytes = JpegCodec.encodeDcOnlyGray(w, h, v)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic COLOR raster media over the LOSSLESS formats —
    * doc_id mod 3 picks the container: 0 = truecolor PNG, 1 = 24bpp
    * BMP, 2 = palette GIF. PNG/BMP carry the per-pixel channel
    * formulas r=(3x+y+id)%256, g=(x+2y+3id)%256, b=(2x+y+7id)%256;
    * GIF carries index (x+y+id)%256 through the palette
    * i→(i, 2i mod 256, 255−i). All three decode bit-exactly (no lossy
    * step), so the q63 twin recomputes per-channel statistics from
    * the formulas directly. Every 25th payload truncated. */
  def syntheticColorRasterMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 8 + 1).toInt * 2
      val h = (id % 6 + 1).toInt * 2
      def rgb(x: Int, y: Int): (Int, Int, Int) = (
        ((3L * x + y + id) % 256).toInt,
        ((x + 2L * y + 3L * id) % 256).toInt,
        ((2L * x + y + 7L * id) % 256).toInt)
      val bytes = (id % 3) match {
        case 0 => MiniEncoder.pngRgb(w, h, rgb)
        case 1 => MiniEncoder.bmp24Rgb(w, h, rgb)
        case _ =>
          MiniEncoder.gifPal(w, h, (x, y) => ((x + y + id) % 256).toInt,
            Array.tabulate(256)(i => (i, (2 * i) % 256, 255 - i)))
      }
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Deterministic ARITHMETIC-coded JPEG media (r8): q55's exact
    * DC-lattice contract carried by the T.81 Annex D QM coder (SOF9,
    * [[JpegCodec.encodeDcOnlyArithGray]]) instead of Huffman — even
    * per-tile constants survive bit-exactly, so the q90 twin is the
    * same closed-form tile formula; every 25th payload truncated for
    * the corrupt path (which the arithmetic decoder must REFUSE, not
    * zero-fill into plausible garbage). */
  def syntheticArithJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 4 + 1).toInt * 8
      val h = (id % 3 + 1).toInt * 8
      def v(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + 7L * id) % 128)).toInt
      val bytes = JpegCodec.encodeDcOnlyArithGray(w, h, v)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic Adobe CMYK/YCCK JPEG media (r8): even ids carry
    * APP14 transform 0 (stored inverted CMYK), odd transform 2
    * (YCCK); per-8×8-tile EVEN stored-plane constants (exact through
    * the DC-only encode), so the decoded RGB is the documented
    * deterministic conversion ([[JpegCodec]] scaladoc — YCbCr→R'G'B'
    * for YCCK, then channel·K/255 over the Adobe-inverted stored
    * values) and the q88 twin reproduces it; every 25th payload
    * truncated for the corrupt path. */
  def syntheticCmykJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 4 + 1).toInt * 8
      val h = (id % 3 + 1).toInt * 8
      def p0(bx: Int, by: Int) = (2L * ((bx + 3L * by + id) % 128)).toInt
      def p1(bx: Int, by: Int) = (2L * ((2L * bx + by + 3L * id) % 128)).toInt
      def p2(bx: Int, by: Int) = (2L * ((bx + 2L * by + 7L * id) % 128)).toInt
      def p3(bx: Int, by: Int) = (2L * ((3L * bx + by + 5L * id) % 128)).toInt
      val bytes = JpegCodec.encodeDcOnlyCmyk(w, h,
        if (id % 2 == 0) 0 else 2, p0, p1, p2, p3)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic HIGH-SAMPLING-FACTOR color JPEG media (r9 — the
    * factor-3/4 cells): doc_id mod 3 picks Y sampling 4×1 (4:1:1),
    * 3×1, or 1×4; chroma is per-MCU even constants (exact under
    * sample replication), Y per-8×8-tile even constants — the q61
    * contract at the T.81 sampling range the decoder previously
    * refused. Every 25th payload truncated for the corrupt path. */
  def syntheticSampledJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val (sub, yh, yvs) = (id % 3) match {
        case 0 => (411, 4, 1)
        case 1 => (311, 3, 1)
        case _ => (114, 1, 4)
      }
      val w = 8 * yh * (id % 2 + 1).toInt
      val h = 8 * yvs * ((id / 2) % 2 + 1).toInt
      def yv(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + id) % 128)).toInt
      def cbv(mx: Int, my: Int): Int = (2L * ((2L * mx + my + id) % 128)).toInt
      def crv(mx: Int, my: Int): Int = (2L * ((mx + 2L * my + 3L * id) % 128)).toInt
      val bytes = JpegCodec.encodeDcOnlyColor(w, h, sub, yv, cbv, crv)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic 12-BIT JPEG media (r9 — the precision cell):
    * SOF1/12 per-8×8-tile EVEN constants in 0–4094, tile (bx,by) =
    * `2·((bx + 3·by + 11·doc_id) mod 2048)` — exact through the
    * DC-only encode at the wider range ([[JpegCodec.decode12]]);
    * every 25th payload truncated for the corrupt path. */
  def syntheticJpeg12Media(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 4 + 1).toInt * 8
      val h = (id % 3 + 1).toInt * 8
      def v(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + 11L * id) % 2048)).toInt
      val bytes = JpegCodec.encodeDcOnlyGray12(w, h, v)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic 12-bit PROGRESSIVE/ARITHMETIC JPEG media (r10 —
    * the last non-hierarchical DCT cells): the q93 lattice re-encoded
    * through the three new frame types by id mod 4 — SOF2 with
    * successive approximation, SOF2 single-step, SOF9 arithmetic,
    * SOF10 progressive-arithmetic. Decoded values are identical to
    * the SOF1 encode (the DC-only exactness contract is
    * frame-type-invariant), so the q93 formula twin serves verbatim;
    * every 25th payload truncated for the corrupt path. */
  def syntheticJpeg12ProgArithMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 4 + 1).toInt * 8
      val h = (id % 3 + 1).toInt * 8
      def v(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + 11L * id) % 2048)).toInt
      val bytes = (id % 4) match {
        case 0 => JpegCodec.encodeDcOnlyProgressiveGray12(w, h, v)
        case 1 => JpegCodec.encodeDcOnlyProgressiveGray12(w, h, v, split = false)
        case 2 => JpegCodec.encodeDcOnlyArithGray12(w, h, v)
        case _ => JpegCodec.encodeDcOnlyProgressiveArithGray12(w, h, v)
      }
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic LOSSLESS JPEG media (r9 — the SOF3 cell): grayscale
    * sample (x,y) = `(5x + 11y + 7·doc_id) mod 2^prec` with precision
    * cycling 8/12/16, predictor cycling 1–7, restart interval 3 on
    * every 5th id — ARBITRARY values, because lossless coding
    * round-trips exactly (no even-constant device needed); the twin
    * recomputes the per-pixel formula directly. Every 25th payload
    * truncated for the corrupt path. */
  def syntheticLosslessJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 13 + 2).toInt
      val h = (id % 9 + 2).toInt
      val prec = Array(8, 12, 16)((id % 3).toInt)
      val psv = (id % 7 + 1).toInt
      val dri = if (id % 5 == 0) 3 else 0
      val bytes = JpegCodec.encodeLossless(w, h, 1, prec, psv, 0, dri,
        (x, y, _) => ((5L * x + 11L * y + 7L * id) % (1L << prec)).toInt)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic COLOR JPEG media with the same exact-reconstruction
    * contract as [[syntheticJpegMedia]], extended per channel: Y/Cb/Cr
    * are per-tile EVEN constants (exact through the DC-only encode —
    * [[JpegCodec]] scaladoc), so the decoded RGB is the deterministic
    * double-precision JFIF formula of exact inputs and the DuckDB twin
    * reproduces it with the same arithmetic. Even doc_ids are 4:4:4
    * (per-8×8-tile chroma); odd are 4:2:0 (per-16×16-MCU chroma, which
    * sample-replication upsampling reconstructs exactly); every 25th
    * payload truncated for the corrupt path. */
  def syntheticJpegColorMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      def yv(bx: Int, by: Int): Int = (2L * ((bx + 3L * by + id) % 128)).toInt
      val bytes =
        if (id % 2 == 0) {
          val w = (id % 4 + 1).toInt * 8
          val h = (id % 3 + 1).toInt * 8
          def cbv(bx: Int, by: Int): Int = (2L * ((2L * bx + by + id) % 128)).toInt
          def crv(bx: Int, by: Int): Int = (2L * ((bx + 2L * by + 3L * id) % 128)).toInt
          JpegCodec.encodeDcOnlyColor(w, h, 444, yv, cbv, crv)
        } else {
          val w = (id % 3 + 1).toInt * 16
          val h = (id % 2 + 1).toInt * 16
          def cbv(mx: Int, my: Int): Int = (2L * ((mx + 2L * my + id) % 128)).toInt
          def crv(mx: Int, my: Int): Int = (2L * ((3L * mx + my + id) % 128)).toInt
          JpegCodec.encodeDcOnlyColor(w, h, 420, yv, cbv, crv)
        }
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic PROGRESSIVE JPEG media: the [[syntheticJpegMedia]]
    * DC-lattice contract transmitted as SOF2 multi-scan files — tile
    * (bx,by) = `2·((2bx + by + doc_id) mod 128)`, even doc_ids with
    * the DC successive-approximation split (Al=1 first scan + a
    * refinement-bit scan), odd without; both reconstruct bit-exactly.
    * Every 25th payload truncated. */
  def syntheticProgressiveJpegMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 5 + 1).toInt * 8
      val h = (id % 2 + 1).toInt * 8
      def v(bx: Int, by: Int): Int = (2L * ((2L * bx + by + id) % 128)).toInt
      val bytes = JpegCodec.encodeDcOnlyProgressiveGray(w, h, v, split = id % 2 == 0)
      MediaFile(id, "image", if (id % 25 == 0) bytes.take(8) else bytes)
    }(mediaEnc)

  /** Deterministic 16-bit PCM WAV media: frame i, channel c carries
    * `((i*31 + c*17 + doc_id*7) mod 65536) - 32768`; rate/channels
    * keyed on doc_id like [[syntheticRealMedia]]'s WAV tier; every
    * 25th payload truncated. The oracle reproduces the statistics
    * from the formula. */
  def syntheticWavMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val rate = 8000 + (id % 5).toInt * 8000
      val channels = (id % 2).toInt + 1
      val nFrames = (id % 50).toInt + 10
      def v(i: Int, c: Int): Int =
        (((i * 31 + c * 17 + id * 7) % 65536) - 32768).toInt
      val bytes = MiniEncoder.wavPcm(rate, channels, nFrames, v)
      MediaFile(id, "audio", if (id % 25 == 0) bytes.take(20) else bytes)
    }(mediaEnc)

  /** Deterministic animated-GIF "video" media: `(doc_id % 12) + 2`
    * full frames, frame f pixel (x,y) = `(x + y + 7*f + doc_id) mod
    * 256`; every 25th payload truncated. The real-payload counterpart
    * of [[syntheticMedia]]'s video tier. */
  def syntheticVideoMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val w = (id % 8 + 1).toInt * 2
      val h = (id % 6 + 1).toInt * 2
      val nFrames = (id % 12).toInt + 2
      def v(x: Int, y: Int, f: Int): Int = ((x + y + 7L * f + id) % 256).toInt
      val bytes = MiniEncoder.gifAnimGray(w, h, nFrames, v)
      MediaFile(id, "video", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Deterministic COMPOSITED animated-GIF media: a 16×16 logical
    * screen; frame 0 paints the whole screen with `base = (3·doc_id)
    * mod 256`; update frame f (1 ≤ f ≤ (doc_id mod 8)+2) is an 8×8
    * PARTIAL rect over quadrant `q = (f−1) mod 4` (left = (q mod 2)·8,
    * top = (q÷2)·8) carrying the constant `(7·f + doc_id) mod 256`,
    * disposal "leave". The composite at frame f is therefore four
    * quadrant constants with a closed form — quadrant q shows the
    * latest update `f − ((f−1−q) mod 4)` if one exists, else `base` —
    * which is what the q62 oracle computes. Every 25th payload
    * truncated. */
  def syntheticCompositeGifMedia(documents: DataFrame): Dataset[MediaFile] =
    documents.select(col("doc_id")).as(Encoders.scalaLong).map { id =>
      val n = (id % 8).toInt + 2
      val base = ((3L * id) % 256).toInt
      val frames = MiniEncoder.GifFrame(0, 0, 16, 16, 1, -1, (_, _) => base) +:
        (1 to n).map { f =>
          val q = (f - 1) % 4
          val c = ((7L * f + id) % 256).toInt
          MiniEncoder.GifFrame((q % 2) * 8, (q / 2) * 8, 8, 8, 1, -1, (_, _) => c)
        }
      val bytes = MiniEncoder.gifAnimComposite(16, 16, 0, frames)
      MediaFile(id, "video", if (id % 25 == 0) bytes.take(6) else bytes)
    }(mediaEnc)

  /** Stub feature extraction: bytes → fixed-dim Float vector (the
    * shape a real vision encoder produces), deterministic from the
    * payload so pipelines downstream are testable. */
  def features(media: Dataset[MediaFile], dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    media.map { m =>
      val base = if (m.content == null) 0 else m.content.drop(16).headOption.getOrElse(0: Byte).toInt
      (m.doc_id, Array.tabulate(dim)(i => ((base + i) % 17).toFloat / 17f))
    }(Encoders.product[(Long, Array[Float])])
      .toDF("doc_id", "media_embedding")
  }
}
