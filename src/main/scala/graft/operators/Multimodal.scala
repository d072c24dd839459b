package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media payloads ride through the pipeline
  * as opaque `binary` columns plus typed metadata, and per-item decode /
  * feature-extraction runs as a partition-local imperative pass
  * (`mapPartitions`) — the one place imperative code is the right tool,
  * because codec libraries are per-buffer black boxes.
  *
  * Header decode is REAL for containerized image formats: `decodeHeader`
  * parses PNG IHDR, JPEG SOFn, and GIF logical-screen dimensions with
  * pure stdlib byte reads — no codec library. Full pixel decode and
  * non-image media still fall back to `decodeStub`, a clearly-marked
  * deterministic fake (the image/audio codec libraries are not in this
  * environment); the Spark-side contract — schema, batch iteration
  * shape, partitioning, output schema — is real and tested either way.
  * Swapping in a real codec changes only the fallback body.
  *
  * Scale notes: binary payloads never pass through a shuffle here (decode
  * is map-only); feature rows are the only thing downstream aggregations
  * shuffle. `spark.sql.files.maxPartitionBytes` governs scan parallelism
  * for large media files.
  */
object Multimodal {

  /** Output schema of the feature extractor. `header_decoded` marks rows
    * whose dimensions came from a REAL container-header parse (PNG/JPEG/
    * GIF) vs the stub fallback. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("header_decoded", BooleanType, nullable = false),
  ))

  // ---- real container-header decode (pure stdlib byte reads) ----------

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Real (width, height) from a PNG / JPEG / GIF container header; None
    * when the payload is not one of those formats (then the caller falls
    * back to the stub). Reads only the header bytes — O(1) per PNG/GIF,
    * O(segments) per JPEG — and never the pixel data, so it is safe on
    * arbitrarily large payloads and on truncated/corrupt ones (any
    * out-of-bounds read returns None, it never throws). */
  def decodeHeader(bytes: Array[Byte]): Option[(Int, Int)] =
    try {
      if (bytes.length >= 24 && bytes.startsWith(PngSig) &&
          new String(bytes, 12, 4, "US-ASCII") == "IHDR") {
        // PNG: the IHDR chunk is required first; width/height big-endian
        // at offsets 16/20
        Some((be32(bytes, 16), be32(bytes, 20)))
      } else if (bytes.length >= 10 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
        // JPEG: walk marker segments to the first SOFn (C0-CF minus the
        // non-frame C4/C8/CC); height then width big-endian after the
        // 3-byte segment header
        var i = 2
        while (i + 3 < bytes.length && (bytes(i) & 0xff) == 0xff) {
          val marker = bytes(i + 1) & 0xff
          if (marker == 0xff) { i += 1 } // fill bytes before a marker
          else if (marker >= 0xc0 && marker <= 0xcf &&
                   marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
            return if (i + 8 < bytes.length)
              Some((be16(bytes, i + 7), be16(bytes, i + 5))) else None
          } else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
            i += 2 // standalone markers carry no length
          } else if (marker == 0xd9 || marker == 0xda) {
            return None // EOI / start-of-scan before any SOF
          } else {
            i += 2 + be16(bytes, i + 2)
          }
        }
        None
      } else if (bytes.length >= 10 &&
                 (new String(bytes, 0, 6, "US-ASCII") == "GIF87a" ||
                  new String(bytes, 0, 6, "US-ASCII") == "GIF89a")) {
        // GIF: logical screen width/height little-endian at offsets 6/8
        Some(((bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8),
          (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)))
      } else None
    } catch { case _: IndexOutOfBoundsException => None }

  /** A VALID minimal PNG wrapping `payload` as its (stored, not pixel-
    * coherent) IDAT body: real signature, real IHDR with the given
    * dimensions, real CRC32s. Header-decodes in any PNG reader; total
    * size is exactly payload.length + 57 (8 sig + 25 IHDR + 12 IDAT
    * framing + 12 IEND). */
  def pngWrap(payload: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 57)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      val len = data.length
      out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
      val tb = ctype.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb); out.write(data)
      val c = crc.getValue
      out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
    }
    out.write(PngSig)
    val ihdr = new Array[Byte](13)
    ihdr(0) = (width >>> 24).toByte; ihdr(1) = (width >>> 16).toByte
    ihdr(2) = (width >>> 8).toByte; ihdr(3) = width.toByte
    ihdr(4) = (height >>> 24).toByte; ihdr(5) = (height >>> 16).toByte
    ihdr(6) = (height >>> 8).toByte; ihdr(7) = height.toByte
    ihdr(8) = 8 // bit depth; then color 0, compression 0, filter 0, interlace 0
    chunk("IHDR", ihdr)
    chunk("IDAT", payload)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Attach a deterministic binary payload derived from the text column —
    * stands in for a real media column when building/testing plumbing.
    * Even ids carry a VALID PNG container (dimensions derived from the
    * id, so an oracle can recompute them) wrapping the text bytes; odd
    * ids carry the raw bytes as an opaque audio payload, exercising the
    * stub-fallback path. */
  def withFakeMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wrap = udf((id: Long, text: String) =>
      pngWrap(text.getBytes("UTF-8"),
        16 + (id % 640).toInt, 16 + (id % 480).toInt))
    docs.select(col(idCol),
      when(col(idCol) % 2 === 0, wrap(col(idCol).cast("long"), col(textCol)))
        .otherwise(encode(col(textCol), "UTF-8")).as("media"),
      when(col(idCol) % 2 === 0, "image/png").otherwise("audio/wav").as("media_type"))
  }

  // ---- real WAV/RIFF container handling (pure stdlib byte reads) -------

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** A VALID minimal PCM WAV wrapping `payload` as its data chunk: real
    * RIFF framing, real fmt chunk (PCM, 16-bit). Header-decodes in any
    * WAV reader; total size is exactly payload.length + 44. */
  def wavWrap(payload: Array[Byte], sampleRate: Int, channels: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 44)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def w16(v: Int): Unit = out.write(Array(v.toByte, (v >>> 8).toByte))
    def w32(v: Int): Unit =
      out.write(Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte))
    ascii("RIFF"); w32(36 + payload.length); ascii("WAVE")
    ascii("fmt "); w32(16)
    w16(1) // PCM
    w16(channels)
    w32(sampleRate)
    w32(sampleRate * channels * 2) // byte rate at 16-bit
    w16(channels * 2) // block align
    w16(16) // bits per sample
    ascii("data"); w32(payload.length)
    out.write(payload)
    out.toByteArray
  }

  /** Real (sampleRate, channels, bitsPerSample, dataBytes) from a
    * RIFF/WAVE container header; None when the payload is not a WAV.
    * Walks the chunk list (fmt may not be first; odd-sized chunks pad
    * to even per the RIFF spec) and reads only header bytes — O(chunks),
    * never the samples; out-of-bounds returns None, never throws. */
  def decodeWavHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] =
    try {
      if (bytes.length < 44 ||
          new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
          new String(bytes, 8, 4, "US-ASCII") != "WAVE") None
      else {
        var i = 12
        var fmt: Option[(Int, Int, Int)] = None
        var dataLen = -1
        while (i + 8 <= bytes.length && (fmt.isEmpty || dataLen < 0)) {
          val cid = new String(bytes, i, 4, "US-ASCII")
          val clen = le32(bytes, i + 4)
          if (cid == "fmt " && clen >= 16 && i + 8 + 16 <= bytes.length)
            fmt = Some((le32(bytes, i + 12), le16(bytes, i + 10), le16(bytes, i + 22)))
          else if (cid == "data") dataLen = clen
          i += 8 + clen + (clen & 1) // RIFF pads odd chunks to even
        }
        for ((rate, ch, bits) <- fmt if dataLen >= 0)
          yield (rate, ch, bits, dataLen)
      }
    } catch { case _: IndexOutOfBoundsException => None }

  /** Attach a deterministic VALID WAV payload derived from the text
    * column — the audio counterpart of `withFakeMedia`: sample rate and
    * channel count derive from the id, so an oracle can recompute every
    * decoded field arithmetically (the content-determining-key
    * discipline). */
  def withFakeAudio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rates = Array(8000, 16000, 22050, 44100)
    val wrap = udf((id: Long, text: String) =>
      wavWrap(text.getBytes("UTF-8"), rates((id % 4).toInt), 1 + (id % 2).toInt))
    docs.select(col(idCol),
      wrap(col(idCol).cast("long"), col(textCol)).as("media"),
      lit("audio/wav").as("media_type"))
  }

  /** Output schema of the audio metadata extractor. */
  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("data_bytes", IntegerType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("header_decoded", BooleanType, nullable = false),
  ))

  /** Partition-local WAV metadata extraction over (id, media): REAL
    * RIFF header decode; undecodable payloads report zeros with the
    * flag down rather than failing the batch. duration_ms is the exact
    * integer floor of dataBytes·1000 / byteRate. Map-only — the audio
    * bytes never reach a shuffle. */
  def extractAudioMeta(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioSchema)
    media.select(col("doc_id").cast("long"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          decodeWavHeader(bytes) match {
            case Some((rate, ch, bits, dataLen)) =>
              val byteRate = rate.toLong * ch * (bits / 8)
              val durMs =
                if (byteRate > 0) dataLen.toLong * 1000L / byteRate else 0L
              Row(id, rate, ch, bits, dataLen, bytes.length, durMs, true)
            case None => Row(id, 0, 0, 0, 0, bytes.length, 0L, false)
          }
        }
      }(enc)
  }

  // ---- real MP4/ISO-BMFF container handling (pure stdlib byte reads) ---

  /** Decoded top-level video-container metadata: major brand, movie
    * timescale + duration (mvhd), first video track's pixel dimensions
    * (tkhd, 16.16 fixed point), and the media-payload (mdat) byte
    * count. */
  final case class Mp4Meta(brand: String, timescale: Long, durationUnits: Long,
                           width: Int, height: Int, mdatBytes: Long)

  private def be64(b: Array[Byte], i: Int): Long =
    ((be32(b, i) & 0xffffffffL) << 32) | (be32(b, i + 4) & 0xffffffffL)

  /** A VALID minimal ISO-BMFF/MP4 container wrapping `payload` as its
    * mdat box: real ftyp (major brand + one compatible brand), real
    * moov holding a version-0 mvhd (timescale/duration) and one trak
    * with a tkhd carrying 16.16 fixed-point dimensions. Box-walks in
    * any BMFF reader; total size is exactly payload.length + 244. */
  def mp4Wrap(payload: Array[Byte], timescale: Int, durationUnits: Long,
              width: Int, height: Int, brand: String = "isom"): Array[Byte] = {
    // version-0 mvhd/tkhd carry 32-bit durations; fail loudly rather
    // than truncate silently (decoded duration would diverge from the
    // oracle's n_bytes-derived arithmetic)
    require(durationUnits <= 0xFFFFFFFFL,
      s"durationUnits $durationUnits overflows the version-0 32-bit field")
    require(brand.length == 4, s"ftyp major brand must be 4 chars: $brand")
    val out = new java.io.ByteArrayOutputStream(payload.length + 244)
    def w32(v: Long): Unit = out.write(Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def zeros(n: Int): Unit = out.write(new Array[Byte](n))
    // ftyp: size 20 = header 8 + major 4 + minor 4 + 1 compatible brand
    w32(20); ascii("ftyp"); ascii(brand); w32(512); ascii("mp41")
    // moov: 8 + mvhd 108 + trak 100
    w32(8 + 108 + 100); ascii("moov")
    // mvhd v0: 8 header + 4 ver/flags + 4+4 times + 4 timescale +
    // 4 duration + 4 rate + 2 volume + 10 reserved + 36 matrix +
    // 24 predefined + 4 next_track_id = 108
    w32(108); ascii("mvhd"); w32(0); w32(0); w32(0)
    w32(timescale); w32(durationUnits)
    w32(0x00010000); out.write(Array(0x01.toByte, 0x00.toByte)); zeros(10)
    w32(0x00010000); w32(0); w32(0); w32(0); w32(0x00010000); w32(0)
    w32(0); w32(0); w32(0x40000000) // identity matrix
    zeros(24); w32(2)
    // trak: 8 + tkhd 92
    w32(8 + 92); ascii("trak")
    // tkhd v0: 8 header + 4 ver/flags + 4+4 times + 4 track_id +
    // 4 reserved + 4 duration + 8 reserved + 2+2+2+2 + 36 matrix +
    // 4 width + 4 height = 92
    w32(92); ascii("tkhd"); w32(7); w32(0); w32(0); w32(1); w32(0)
    w32(durationUnits); zeros(8); zeros(8)
    w32(0x00010000); w32(0); w32(0); w32(0); w32(0x00010000); w32(0)
    w32(0); w32(0); w32(0x40000000)
    w32(width.toLong << 16); w32(height.toLong << 16) // 16.16 fixed
    // mdat
    w32(8L + payload.length); ascii("mdat"); out.write(payload)
    out.toByteArray
  }

  /** Real ISO-BMFF box walk: ftyp brand, mvhd timescale/duration, the
    * first tkhd's 16.16 dimensions, mdat payload size. Handles 32-bit
    * sizes, size==1 (64-bit largesize follows) and size==0 (box runs to
    * EOF); unknown sibling boxes (free, skip, udta, codec-specific…)
    * are SKIPPED by their declared size, so real-world files with boxes
    * this walker doesn't know still decode their known ones. Reads only
    * box headers + the fixed mvhd/tkhd fields — O(boxes), never the
    * media payload. None (→ caller's stub fallback) when the bytes are
    * not BMFF, a header is truncated, or a required box is missing —
    * never throws. Opaque codec payloads inside mdat are NOT decoded
    * here by design: frame/pixel access needs a codec library this
    * container doesn't ship, so downstream stages stub that step. */
  def decodeMp4Header(bytes: Array[Byte]): Option[Mp4Meta] =
    try {
      var brand: String = null
      var timescale = -1L
      var duration = -1L
      var width = -1
      var height = -1
      var mdat = -1L
      // walk [from, until) as a box list; moov/trak recurse one level
      def walk(from: Long, until: Long, depth: Int): Unit = {
        var i = from
        while (i + 8 <= until) {
          val size32 = be32(bytes, i.toInt) & 0xffffffffL
          val typ = new String(bytes, i.toInt + 4, 4, "US-ASCII")
          val (body, size) =
            if (size32 == 1L && i + 16 <= until) (i + 16, be64(bytes, i.toInt + 8))
            else if (size32 == 0L) (i + 8, until - i) // to end of enclosing box
            else (i + 8, size32)
          if (size < 8 || i + size > until) return // corrupt size: stop, keep what parsed
          typ match {
            case "ftyp" if body + 4 <= until =>
              brand = new String(bytes, body.toInt, 4, "US-ASCII")
            case "moov" | "trak" if depth < 2 => walk(body, i + size, depth + 1)
            case "mvhd" if body + 20 <= until =>
              val v = bytes(body.toInt) & 0xff
              if (v == 1) {
                // v1 needs 32 bytes: the be64 at body+24 reads 8;
                // a truncated v1 is skipped, NOT misread at v0 offsets
                if (body + 32 <= until) {
                  timescale = be32(bytes, body.toInt + 20) & 0xffffffffL
                  duration = be64(bytes, body.toInt + 24)
                }
              } else {
                timescale = be32(bytes, body.toInt + 12) & 0xffffffffL
                duration = be32(bytes, body.toInt + 16) & 0xffffffffL
              }
            case "tkhd" if width < 0 && body + 1 <= until =>
              val v = bytes(body.toInt) & 0xff
              // ver/flags + times/track/duration (v1: 64-bit times) +
              // reserved/layer/volume + matrix → the 16.16 dims.
              // off + 8 <= until below IS the explicit full-length check
              // (body + 96 for v1, body + 84 for v0): a tkhd truncated
              // after its version byte is SKIPPED (width stays -1, row
              // drops to None) — the same skip-not-misread policy as
              // mvhd, never a read at wrong offsets.
              val off = body + (if (v == 1) 88 else 76)
              if (off + 8 <= until) {
                width = be32(bytes, off.toInt) >>> 16
                height = be32(bytes, off.toInt + 4) >>> 16
              }
            case "mdat" => mdat = size - (body - i)
            case _ => // unknown box: skip by declared size
          }
          i += size
        }
      }
      if (bytes.length < 8 ||
          new String(bytes, 4, 4, "US-ASCII") != "ftyp") None
      else {
        walk(0L, bytes.length.toLong, 0)
        if (brand != null && timescale > 0 && duration >= 0 &&
            width >= 0 && mdat >= 0)
          Some(Mp4Meta(brand, timescale, duration, width, height, mdat))
        else None
      }
    } catch {
      case _: IndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  /** Attach a deterministic VALID MP4 payload derived from the text
    * column — the video counterpart of `withFakeAudio`: timescale,
    * duration, and pixel dimensions derive from the id (duration units
    * = 25·payload bytes — a fake "frame per 40ms of bytes"), so an
    * oracle recomputes every decoded field arithmetically. */
  def withFakeVideo(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scales = Array(600, 1000, 30000, 90000)
    val wrap = udf((id: Long, text: String) => {
      val payload = text.getBytes("UTF-8")
      // brand ALTERNATES by id so the decoded column varies: a constant
      // brand can't distinguish a real ftyp read from an echoed literal
      // (the r12 vacuity audit flagged exactly that)
      mp4Wrap(payload, scales((id % 4).toInt), payload.length.toLong * 25L,
        320 + 16 * (id % 5).toInt, 240 + 16 * (id % 3).toInt,
        brand = if (id % 2 == 0L) "isom" else "mp42")
    })
    docs.select(col(idCol),
      wrap(col(idCol).cast("long"), col(textCol)).as("media"),
      lit("video/mp4").as("media_type"))
  }

  /** Output schema of the video metadata extractor. */
  val videoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("brand", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration_units", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("mdat_bytes", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("header_decoded", BooleanType, nullable = false),
  ))

  /** Partition-local MP4 metadata extraction over (doc_id, media): REAL
    * ISO-BMFF box walk; undecodable payloads report zeros with the flag
    * down rather than failing the batch. duration_ms is the exact
    * integer floor of durationUnits·1000 / timescale. Map-only — the
    * media bytes never reach a shuffle, and at 100 TB the decode
    * distributes with the scan. */
  def extractVideoMeta(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(videoSchema)
    media.select(col("doc_id").cast("long"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          decodeMp4Header(bytes) match {
            case Some(m) =>
              Row(id, m.brand, m.timescale, m.durationUnits,
                m.durationUnits * 1000L / m.timescale,
                m.width, m.height, m.mdatBytes, bytes.length, true)
            case None =>
              Row(id, "", 0L, 0L, 0L, 0, 0, 0L, bytes.length, false)
          }
        }
      }(enc)
  }

  /** STUB decode: a real implementation would hand `bytes` to an image /
    * audio codec. This fake derives stable pseudo-dimensions + a checksum
    * from the payload so tests are deterministic. */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Long) = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    val w = 16 + math.floorMod(h, 640).toInt
    val ht = 16 + math.floorMod(h >> 16, 480).toInt
    (w, ht, h)
  }

  /** Output schema of the resize stage. */
  val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
  ))

  /** STUB resize: a real implementation hands bytes to an image codec and
    * scales; the fake derives a deterministic payload of the target size
    * so partitioning/schema plumbing is real and testable. */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte]((w.toLong * h % 4096).toInt + 16)
    var i = 0
    while (i < out.length) { out(i) = bytes(i % math.max(bytes.length, 1)); i += 1 }
    out
  }

  /** Batch resize: map-only pass producing fixed-dimension payloads. */
  def resizeAll(media: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(resizedSchema)
    media.select(col("doc_id").cast("long"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), resizeStub(r.getAs[Array[Byte]](1), w, h), w, h)
        }
      }(enc)
  }

  /** Output schema of frame sampling: one row per sampled frame. */
  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false),
  ))

  /** STUB frame-sample: a real implementation seeks the container and
    * decodes every `stride`-th frame; the fake slices the payload
    * deterministically. Map-only; output explodes 1→n rows per video but
    * never shuffles the source bytes. */
  def sampleFrames(media: DataFrame, nFrames: Int): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    media.select(col("doc_id").cast("long"), col("media"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val id = r.getLong(0)
          (0 until nFrames).iterator.map { f =>
            val start = if (bytes.isEmpty) 0 else (f * bytes.length / nFrames)
            val end = if (bytes.isEmpty) 0 else math.max(start + 1, ((f + 1) * bytes.length / nFrames))
            Row(id, f, java.util.Arrays.copyOfRange(bytes, start, math.min(end, bytes.length)))
          }
        }
      }(enc)
  }

  /** Partition-local feature extraction over (id, media, media_type):
    * REAL header decode for payloads DECLARED as images (media_type
    * starting with "image/"), stub dimensions for everything else; the
    * checksum is always the payload hash. The declared-type gate
    * matters: image magic bytes are plain ASCII-representable (a
    * text/audio payload can legitimately begin with "GIF89a"), so
    * sniffing every payload would misreport opaque media as decoded
    * images. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select(col("doc_id").cast("long"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mt = r.getString(2)
          val (sw, sh, ck) = decodeStub(bytes)
          // MIME types compare case-insensitively (RFC 2045)
          val header =
            if (mt != null && mt.regionMatches(true, 0, "image/", 0, 6)) decodeHeader(bytes)
            else None
          header match {
            case Some((w, h)) => Row(id, mt, bytes.length, w, h, ck, true)
            case None => Row(id, mt, bytes.length, sw, sh, ck, false)
          }
        }
      }(enc)
  }
}
