package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary columns, made REAL (round 11 — replaces the
  * round-4 `q_multimodal_stub` whose "decode" synthesized dimensions
  * from doc_id arithmetic without touching the payload bytes).
  *
  * A training-data pipeline treats images/audio/video as opaque
  * `binary` columns plus typed metadata, and the first processing step
  * is always a header decode: magic-byte sniff, dimension extraction,
  * channel/bit-depth typing, payload hashing for exact dedup. The
  * image LIBS are not in this container, but header parsing needs no
  * library — it is byte arithmetic — so this module does it for real:
  *
  *   - `ensureStore` writes a deterministic blob table derived from
  *     `documents`: REAL BMP files (BITMAPFILEHEADER + BITMAPINFOHEADER
  *     + bottom-up padded 24bpp pixel rows) and REAL PNG files
  *     (signature + IHDR + zlib-deflated filtered scanlines in IDAT +
  *     IEND, each chunk with its correct CRC32) — any external viewer
  *     or decoder would accept these bytes.
  *   - `dims*` extract format/width/height/bit-depth/channels FROM THE
  *     PAYLOAD BYTES with codegen'd built-ins (hex + substring + conv —
  *     whole-stage-codegen friendly, no UDF), handling BMP's
  *     little-endian u32 fields and PNG's big-endian IHDR.
  *   - `decodeDims` is the same parse as a per-partition ByteBuffer
  *     decoder — the mapPartitions shape a REAL library decode (one
  *     codec context per partition, batched frames) uses; it also
  *     verifies the IHDR CRC32 the way a strict parser must.
  *     MediaBlobsSpec proves the two paths bit-identical.
  *
  * GENERATOR CONTRACT (the oracle replays exactly these formulas; keep
  * in lockstep with the SQL in queries/Similarity.scala):
  *   g        = doc_id % 41            — the content seed; payloads are
  *                                       byte-identical iff g is equal
  *                                       (exact-dup dedup groups)
  *   format   = g even -> BMP (24bpp); g odd -> PNG
  *   width    = 200 + (g * 13) % 800   — 200..999, forces multi-byte
  *                                       width fields in BOTH endiannesses
  *   height   = 2 + g % 5
  *   channels = BMP -> 3; PNG colorType 0 (grayscale, g % 4 == 1) -> 1;
  *              PNG colorType 2 (RGB, g % 4 == 3) -> 3
  *   pixel byte (x, y, channel c) = (x + 7*y + 11*c + g) % 251
  *   BMP file size = 54 + ((3*w + 3) div 4) * 4 * h  (oracle-checked;
  *              PNG size depends on deflate output and is not replayed)
  *
  * Reference: Hive has no multimodal surface — this is a north-star
  * LLM-pipeline component (builder brief). The closest reference shape
  * is the binary-serde path ([jar]
  * org/apache/hadoop/hive/serde2/lazy/LazyBinary.class — opaque bytes
  * as a first-class column type).
  *
  * 100 TB shape: generation is an embarrassingly parallel map (no
  * shuffle); decode is a per-row projection over a binary column
  * (scan-local, codegen'd); exact dedup is one hash shuffle on
  * md5(payload) — identical to the text exact-dedup plan. Blobs stay
  * IN the rows (parquet binary) — no driver collection anywhere.
  */
object MediaBlobs {

  private[graft] val seedMod = 41L

  /** Pure generator: the exact bytes for one seed g. Total for ANY
    * g >= 0 (the store uses g = doc_id % seedMod; the property spec
    * exercises the full formula domain).
    */
  private[graft] def blobFor(g: Long): Array[Byte] = {
    val w = (200 + (g * 13) % 800).toInt
    val h = (2 + g % 5).toInt
    def px(x: Int, y: Int, c: Int): Byte = ((x + 7 * y + 11 * c + g) % 251).toByte
    if (g % 2 == 0) bmp24(w, h, px) else {
      val colorType = if (g % 4 == 1) 0 else 2
      png(w, h, colorType, px)
    }
  }

  /** Real 24bpp BMP: 14-byte file header + 40-byte BITMAPINFOHEADER +
    * bottom-up rows padded to 4 bytes. All multi-byte fields LE.
    */
  private[graft] def bmp24(w: Int, h: Int,
      px: (Int, Int, Int) => Byte): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
    b.putInt(fileSize).putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h)
    b.putShort(1) // planes
    b.putShort(24) // bpp
    b.putInt(0) // BI_RGB
    b.putInt(dataSize)
    b.putInt(2835).putInt(2835) // 72 dpi
    b.putInt(0).putInt(0)
    var y = h - 1 // bottom-up row order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        // BMP stores BGR
        b.put(px(x, y, 2)).put(px(x, y, 1)).put(px(x, y, 0))
        x += 1
      }
      var pad = rowSize - 3 * w
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Real PNG: signature, IHDR, one IDAT holding the zlib-deflated
    * filter-0 scanlines, IEND — correct chunk CRCs throughout.
    * colorType 0 = grayscale (1 channel), 2 = truecolor (3 channels).
    */
  private def png(w: Int, h: Int, colorType: Int,
      px: (Int, Int, Int) => Byte): Array[Byte] = {
    val channels = if (colorType == 0) 1 else 3
    val raw = new Array[Byte](h * (1 + w * channels))
    var i = 0
    var y = 0
    while (y < h) {
      raw(i) = 0 // filter type None
      i += 1
      var x = 0
      while (x < w) {
        var c = 0
        while (c < channels) { raw(i) = px(x, y, c); i += 1; c += 1 }
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val outBuf = new Array[Byte](raw.length + 64)
    var n = 0
    while (!defl.finished()) n += defl.deflate(outBuf, n, outBuf.length - n)
    defl.end()
    val idat = java.util.Arrays.copyOf(outBuf, n)

    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte).put(colorType.toByte)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len, 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array(), 0, 4)
    }
    chunk("IHDR", ihdr.array())
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real PCM WAV bytes for one seed g (the AUDIO modality; generator
    * contract, replayed by q_multimodal_audio's oracle):
    *   sample_rate = [8000, 16000, 22050, 44100][g % 4]
    *   channels    = 1 + g % 2
    *   bits        = 16 (PCM s16le)
    *   n_frames    = 50 + (g * 7) % 200
    *   sample (frame i, channel c) = ((i*13 + c*7 + g*31) % 65536) - 32768
    * RIFF/WAVE container: "fmt " chunk (PCM, LE fields) + "data" chunk
    * — javax.sound AudioSystem accepts these bytes (MediaBlobsSpec).
    */
  private[graft] def wavFor(g: Long): Array[Byte] = {
    val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
    val channels = (1 + g % 2).toInt
    val nFrames = (50 + (g * 7) % 200).toInt
    val blockAlign = channels * 2
    val dataSize = nFrames * blockAlign
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1) // PCM
    b.putShort(channels.toShort)
    b.putInt(rate)
    b.putInt(rate * blockAlign) // byte rate
    b.putShort(blockAlign.toShort)
    b.putShort(16) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < channels) {
        b.putShort((((i * 13 + c * 7 + g * 31) % 65536) - 32768).toShort)
        c += 1
      }
      i += 1
    }
    b.array()
  }

  /** Deterministic blob table from `documents`: (doc_id, payload),
    * one artifact per documents content.
    */
  def ensureStore(s: SparkSession, dir: String): String =
    blobStore(s, dir, "media", blobFor)

  /** Audio blob table twin of ensureStore: (doc_id, payload) of real
    * WAV files.
    */
  def ensureAudioStore(s: SparkSession, dir: String): String =
    blobStore(s, dir, "audio", wavFor)

  /** The (doc_id, payload) artifact of `kind`: payload = `blob` of the
    * document's seed. */
  private def blobStore(s: SparkSession, dir: String, kind: String,
      blob: Long => Array[Byte]): String =
    graft.operators.Artifact.derive(s, kind, dir, "documents") { out =>
      import s.implicits._
      graft.T.t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, blob(id % seedMod)))
        .toDF("doc_id", "payload")
        .write.parquet(out)
    }

  // ---- expression-based header decode (codegen'd built-ins only) ----

  /** Hex of the first 30 payload bytes — every header field both
    * formats need lives there (BMP: magic 1-2, width LE 19-22, height
    * LE 23-26, biBitCount LE 29-30; PNG: signature 1-8, IHDR width BE
    * 17-20, height BE 21-24, bit depth 25, color type 26; 1-based
    * byte positions).
    */
  def headerHex(payload: Column): Column =
    upper(hex(substring(payload, 1, 30)))

  private def byteAt(hx: Column, pos: Int): Column =
    conv(substring(hx, 2 * pos - 1, 2), 16, 10).cast("int")

  /** Little-endian u32 at 1-based byte position `pos` (BMP fields). */
  private def leU32(hx: Column, pos: Int): Column =
    conv(concat(
      substring(hx, 2 * (pos + 3) - 1, 2), substring(hx, 2 * (pos + 2) - 1, 2),
      substring(hx, 2 * (pos + 1) - 1, 2), substring(hx, 2 * pos - 1, 2)),
      16, 10).cast("long")

  /** Big-endian u32 at 1-based byte position `pos` (PNG fields). */
  private def beU32(hx: Column, pos: Int): Column =
    conv(substring(hx, 2 * pos - 1, 8), 16, 10).cast("long")

  /** Little-endian u16 at 1-based byte position `pos` (WAV fields). */
  private def leU16(hx: Column, pos: Int): Column =
    conv(concat(substring(hx, 2 * (pos + 1) - 1, 2),
      substring(hx, 2 * pos - 1, 2)), 16, 10).cast("int")

  /** Structural gate every BMP PIXEL reader checks before walking the
    * grid: the dims the header declares must be positive and the
    * bottom-up padded BGR rows they imply must FIT inside the payload.
    * A truncated or dim-flipped blob otherwise turns the fixed
    * `54 + (h-1-sy)*rowSize + sx*3` addressing into an out-of-bounds
    * read that kills the whole task — at 100 TB one corrupt blob must
    * cost one quarantined row, not a partition retry storm. `<=`
    * (not `==`) tolerates trailing bytes; header-only decoders that
    * never touch pixels share the same rule for consistency.
    */
  private[graft] def bmpGridFits(p: Array[Byte]): Boolean = {
    if (p.length < 54) false
    else {
      val le = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = le.getInt(18)
      val h = le.getInt(22)
      // Fit test phrased as a DIVISION so it cannot overflow: rowSize·h
      // for crafted dims (w=h=Int.MaxValue) wraps even a Long negative,
      // which would pass a `54 + rowSize*h <= len` gate and hand the
      // Int-arithmetic pixel walkers wrapped offsets — the exact
      // task-kill this gate exists to prevent. rowSize ≥ 4 when w ≥ 1,
      // so the divide is safe; h ≤ (len−54)/rowSize is algebraically
      // the same bound.
      w > 0 && h > 0 &&
        h <= (p.length - 54L) / (((3L * w + 3) / 4) * 4)
    }
  }

  /** WAV header decode over the canonical 44-byte RIFF/fmt/data
    * layout this store writes: format sniff ("RIFF"+"WAVE" magic),
    * channels (LE u16 @23), sample rate (LE u32 @25), bits per sample
    * (LE u16 @35), data size (LE u32 @41) → frame count and exact
    * integer duration in microseconds. Codegen'd built-ins only.
    */
  def withAudioDecoded(df: DataFrame): DataFrame = {
    val hx = upper(hex(substring(col("payload"), 1, 44)))
    // fmt='wav' only when the container is STRUCTURALLY consistent,
    // not just magic-prefixed: all four chunk magics in place, the
    // RIFF and data sizes agreeing with the actual payload length,
    // >=1 channel, a PCM bit width the block math can divide by, and
    // a positive sample rate. A fuzzed header otherwise reaches the
    // n_frames/duration integer division with channels=0 or bits=0 —
    // an ANSI DIVIDE_BY_ZERO that kills the task — or reports frame
    // counts for bytes the payload doesn't contain. Gated out, every
    // field below is null (the quarantine row).
    // The canonical 44-byte layout is FULLY cross-checked: the fmt
    // chunk must be the 16-byte PCM one (tag 1), block_align must
    // equal channels*(bits/8) and byte_rate must equal
    // rate*block_align — the container's own redundancy, which is
    // what lets a single flipped byte in ANY decoded field be caught
    // (a rate flip breaks the byte_rate product, a channel flip
    // breaks block_align, a size flip breaks the length equations).
    df.withColumn("fmt",
        when(substring(hx, 1, 8) === "52494646" &&
          substring(hx, 17, 8) === "57415645" &&
          substring(hx, 25, 8) === "666D7420" &&
          substring(hx, 73, 8) === "64617461" &&
          leU32(hx, 5) === length(col("payload")) - 8 &&
          leU32(hx, 17) === 16 && leU16(hx, 21) === 1 &&
          leU16(hx, 23) >= 1 &&
          leU16(hx, 35).isin(8, 16, 32) &&
          leU32(hx, 25) >= 1 &&
          leU16(hx, 33).cast("long") * 8L ===
            leU16(hx, 23).cast("long") * leU16(hx, 35).cast("long") &&
          leU32(hx, 29) === leU32(hx, 25) * leU16(hx, 33).cast("long") &&
          leU32(hx, 41) === length(col("payload")) - 44, "wav"))
      .withColumn("channels", when(col("fmt") === "wav", leU16(hx, 23)))
      .withColumn("sample_rate", when(col("fmt") === "wav", leU32(hx, 25)))
      .withColumn("bits", when(col("fmt") === "wav", leU16(hx, 35)))
      .withColumn("data_bytes", when(col("fmt") === "wav", leU32(hx, 41)))
      // integer `div` end to end — the oracle replays with `//`, and a
      // double division could truncate differently at the last ulp
      .withColumn("n_frames",
        expr("data_bytes div (channels * (bits div 8))"))
      .withColumn("duration_us",
        expr("(n_frames * 1000000L) div sample_rate"))
  }

  /** Format sniff from magic bytes: 'BM' / PNG signature / null. */
  def fmtCol(hx: Column): Column =
    when(substring(hx, 1, 4) === "424D", "bmp")
      .when(substring(hx, 1, 16) === "89504E470D0A1A0A", "png")

  def widthCol(hx: Column, fmt: Column): Column =
    when(fmt === "bmp", leU32(hx, 19)).when(fmt === "png", beU32(hx, 17))

  def heightCol(hx: Column, fmt: Column): Column =
    when(fmt === "bmp", leU32(hx, 23)).when(fmt === "png", beU32(hx, 21))

  /** Bit depth PER CHANNEL: PNG stores it directly; BMP's biBitCount
    * is per PIXEL (24) over its fixed 3 BGR channels.
    */
  def bitDepthCol(hx: Column, fmt: Column): Column =
    when(fmt === "bmp",
      (conv(concat(substring(hx, 2 * 30 - 1, 2), substring(hx, 2 * 29 - 1, 2)),
        16, 10).cast("int") / 3).cast("int"))
      .when(fmt === "png", byteAt(hx, 25))

  def channelsCol(hx: Column, fmt: Column): Column =
    when(fmt === "bmp", 3)
      .when(fmt === "png",
        when(byteAt(hx, 26) === 0, 1).when(byteAt(hx, 26) === 2, 3))

  /** All decoded header fields as one projection over (…, payload). */
  def withDecoded(df: DataFrame): DataFrame = {
    val hx = headerHex(col("payload"))
    val fmt = fmtCol(hx)
    df.withColumn("fmt", fmt)
      .withColumn("width", widthCol(headerHex(col("payload")), col("fmt")))
      .withColumn("height", heightCol(headerHex(col("payload")), col("fmt")))
      .withColumn("bit_depth", bitDepthCol(headerHex(col("payload")), col("fmt")))
      .withColumn("channels", channelsCol(headerHex(col("payload")), col("fmt")))
  }

  /** Per-window PCM feature extraction — the frame-sample /
    * feature-extract step of a media pipeline, decoding REAL samples
    * from the payload bytes: the WAV header yields channels and frame
    * count, then each non-overlapping `windowFrames`-frame window
    * emits its sample count and total absolute amplitude (integer
    * energy — exact, so the oracle can replay it from the generator
    * contract). mapPartitions with a per-partition ByteBuffer is the
    * one-codec-context-per-partition shape a real decoder (librosa /
    * ffmpeg batch) uses; output rows (doc_id, win, n_samples, energy)
    * are what shuffles — never the blobs. Partial tail windows are
    * dropped (floor(nFrames / windowFrames) windows per doc).
    */
  def audioFrameEnergy(df: DataFrame, windowFrames: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          val bb = java.nio.ByteBuffer.wrap(p)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          // RIFF structural gate before ANY indexed read: magic at 0/8,
          // s16le PCM (the only layout the sample loop below decodes),
          // >=1 channel, and the declared data size must FIT the
          // payload — a truncated or size-flipped blob is quarantined
          // (zero rows), never an OOB getShort or a divide-by-zero.
          val ok = p.length >= 44 &&
            p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
            p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E' &&
            bb.getShort(34).toInt == 16 && bb.getShort(22).toInt >= 1 &&
            bb.getInt(40) >= 0 && 44L + bb.getInt(40) <= p.length
          if (!ok) Iterator.empty
          else {
          val ch = bb.getShort(22).toInt
          val dataSize = bb.getInt(40)
          val nFrames = dataSize / (ch * 2)
          (0 until nFrames / windowFrames).iterator.map { win =>
            var energy = 0L
            var f = win * windowFrames
            val end = f + windowFrames
            while (f < end) {
              var c = 0
              while (c < ch) {
                energy += math.abs(bb.getShort(44 + (f * ch + c) * 2).toLong)
                c += 1
              }
              f += 1
            }
            (id, win, windowFrames.toLong * ch, energy)
          }
          }
        }
      }
      .toDF("doc_id", "win", "n_samples", "energy")
  }

  /** Nearest-neighbor thumbnail resize over the REAL BMP pixel bytes —
    * the `resize` step of a media pipeline (the brief's decode /
    * feature-extract / resize / frame-sample quartet), done from the
    * container layout rather than a stub: for each destination pixel
    * (xd, yd) the source pixel is (xd*w div outW, yd*h div outH), read
    * from the bottom-up, 4-byte-padded BGR rows at offset
    * 54 + (h-1-sy)*rowSize + sx*3. The resized outW×outH×RGB buffer is
    * MATERIALIZED (exactly what a thumbnail sink would write), then
    * summarized as per-channel sums plus a position-weighted checksum
    * (Σ value·(pixelIndex·3 + channel + 1)) so any permutation, BGR/RGB
    * swap, row-order or padding slip changes the result — all exact
    * integers the oracle replays from the generator pixel contract.
    * Non-BMP blobs are passed over (a real pipeline routes by sniffed
    * format). 100 TB: per-row map, no shuffle; thumbnails (48 B here)
    * are the only new bytes.
    */
  def resizeBmpThumb(df: DataFrame, outW: Int, outH: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          // bmpGridFits: quarantine-by-drop, never an OOB pixel read
          if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte ||
            !bmpGridFits(p)) None
          else {
            val le = java.nio.ByteBuffer.wrap(p)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val w = le.getInt(18)
            val h = le.getInt(22)
            val rowSize = ((3 * w + 3) / 4) * 4
            val thumb = new Array[Byte](outW * outH * 3) // RGB order
            var yd = 0
            while (yd < outH) {
              var xd = 0
              while (xd < outW) {
                val sx = xd * w / outW
                val sy = yd * h / outH
                val off = 54 + (h - 1 - sy) * rowSize + sx * 3
                val i = (yd * outW + xd) * 3
                thumb(i) = p(off + 2)     // R (BMP rows store BGR)
                thumb(i + 1) = p(off + 1) // G
                thumb(i + 2) = p(off)     // B
                xd += 1
              }
              yd += 1
            }
            var sumR = 0L; var sumG = 0L; var sumB = 0L; var checksum = 0L
            var i = 0
            while (i < thumb.length) {
              val v = thumb(i) & 0xFF
              (i % 3) match {
                case 0 => sumR += v
                case 1 => sumG += v
                case _ => sumB += v
              }
              checksum += v.toLong * (i + 1)
              i += 1
            }
            Some((id, outW, outH, sumR, sumG, sumB, checksum))
          }
        }
      }
      .toDF("doc_id", "out_w", "out_h", "sum_r", "sum_g", "sum_b",
        "checksum")
  }

  // ---- VIDEO modality: YUV4MPEG2 (Y4M) containers ----

  /** Real YUV4MPEG2 bytes for one seed g (the VIDEO modality; the
    * mjpegtools Y4M format — plain-ASCII stream header, then per frame
    * a "FRAME\n" marker followed by the raw plane bytes; `Cmono` means
    * a single full-resolution luma plane per frame, so frame payload =
    * w*h bytes). ffmpeg/mpv accept exactly these bytes.
    *
    * GENERATOR CONTRACT (replayed by q_multimodal_video /
    * q_video_frames oracles; keep in lockstep):
    *   width    = 16 + (g * 5) % 48      — 16..63
    *   height   = 8 + g % 8              — 8..15
    *   fps      = [24, 25, 30, 60][g % 4]  (F<fps>:1)
    *   n_frames = 4 + (g * 3) % 12       — 4..15
    *   luma byte (x, y, frame t) = (x + 3*y + 5*t + g) % 251
    *   header   = "YUV4MPEG2 W<w> H<h> F<fps>:1 Ip A1:1 Cmono\n"
    *     → header_len = 32 + digits(w) + digits(h) + digits(fps)
    *   total bytes = header_len + n_frames * (6 + w*h)
    */
  private[graft] def y4mFor(g: Long): Array[Byte] = {
    val w = (16 + (g * 5) % 48).toInt
    val h = (8 + g % 8).toInt
    val fps = Array(24, 25, 30, 60)((g % 4).toInt)
    val nFrames = (4 + (g * 3) % 12).toInt
    val header = s"YUV4MPEG2 W$w H$h F$fps:1 Ip A1:1 Cmono\n"
      .getBytes("US-ASCII")
    val frameMark = "FRAME\n".getBytes("US-ASCII")
    val out = java.nio.ByteBuffer.allocate(
      header.length + nFrames * (frameMark.length + w * h))
    out.put(header)
    var t = 0
    while (t < nFrames) {
      out.put(frameMark)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.put(((x + 3 * y + 5 * t + g) % 251).toByte)
          x += 1
        }
        y += 1
      }
      t += 1
    }
    out.array()
  }

  /** Video blob table twin of ensureStore: (doc_id, payload) of real
    * Y4M streams.
    */
  def ensureVideoStore(s: SparkSession, dir: String): String =
    blobStore(s, dir, "video", y4mFor)

  /** Y4M header decode with codegen'd built-ins only. Unlike BMP/PNG/
    * WAV the Y4M header is ASCII text, so the parse is: US-ASCII-decode
    * a fixed 48-byte prefix (longest possible header here is 38 bytes;
    * bytes past the first '\n' are frame luma — every value < 0x80
    * round-trips through the ASCII decoder one-char-per-byte, and
    * substring_index cuts at the FIRST newline before any of them can
    * matter), take the first line, and regexp the W/H/F/C tagged
    * fields out — the exact tokenization a real y4m_read_stream_header
    * does. Frame count comes from byte accounting over the container
    * layout (total − header, divided by the 6-byte FRAME marker + the
    * Cmono plane size), duration from exact integer math.
    */
  def withVideoDecoded(df: DataFrame): DataFrame = {
    // ISO-8859-1, NOT US-ASCII: the 48-byte prefix window can reach
    // past the header into frame luma bytes, and any byte >= 0x80
    // makes Spark's ANSI `decode(..., 'US-ASCII')` throw
    // MALFORMED_CHARACTER_CODING — a task-killer on arbitrary bytes
    // (found by MediaBlobsFuzzSpec). Latin-1 is total (all 256 byte
    // values map) and agrees with ASCII on every header character.
    val hdr = substring_index(
      expr("decode(substring(payload, 1, 48), 'ISO-8859-1')"), "\n", 1)
    // Tag extraction that can't trip ANSI: digits bounded to 6 (no
    // BIGINT-overflow cast), empty match → null (regexp_extract
    // returns '' when a fuzzed header drops a tag — under ANSI mode
    // `''::long` is a task-killing CAST_INVALID_INPUT, so the cast
    // only ever sees a non-empty all-digit string).
    def numTag(pat: String): Column = {
      val v = regexp_extract(col("hdr"), pat, 1)
      when(v === "", lit(null)).otherwise(v).cast("long")
    }
    // fmt='y4m' requires the FULL structural contract, not just the
    // magic: positive W/H/F tags present, the Cmono colorspace this
    // walker's frame accounting assumes, and the bytes after the
    // header dividing EXACTLY into FRAME-marker + w*h plane units. A
    // truncated/flipped container otherwise yields negative or
    // fractional frame counts (garbage) or an F0:1 divide-by-zero.
    // Gated out, every field is null — the quarantine row. The `fsz`
    // divisor is >= 6 by construction (coalesce(w*h, 0) + 6), so the
    // pmod itself can't raise.
    df.withColumn("hdr", hdr)
      .withColumn("w0", numTag(" W([1-9]\\d{0,5}) "))
      .withColumn("h0", numTag(" H([1-9]\\d{0,5}) "))
      .withColumn("f0", numTag(" F([1-9]\\d{0,5}):1"))
      .withColumn("body", length(col("payload")) - (length(col("hdr")) + 1))
      .withColumn("fsz",
        lit(6L) + coalesce(col("w0"), lit(0L)) * coalesce(col("h0"), lit(0L)))
      .withColumn("fmt",
        when(substring(col("hdr"), 1, 10) === "YUV4MPEG2 " &&
          col("w0").isNotNull && col("h0").isNotNull &&
          col("f0").isNotNull &&
          regexp_extract(col("hdr"), " C(\\w+)", 1) === "mono" &&
          col("body") >= 0 && pmod(col("body"), col("fsz")) === 0, "y4m"))
      .withColumn("width", when(col("fmt") === "y4m", col("w0")))
      .withColumn("height", when(col("fmt") === "y4m", col("h0")))
      .withColumn("fps", when(col("fmt") === "y4m", col("f0")).cast("int"))
      .withColumn("colorspace", when(col("fmt") === "y4m",
        regexp_extract(col("hdr"), " C(\\w+)", 1)))
      .withColumn("header_len",
        when(col("fmt") === "y4m", length(col("hdr")) + 1))
      .withColumn("n_frames",
        when(col("fmt") === "y4m", expr("body div fsz")))
      .withColumn("duration_ms", expr("(n_frames * 1000L) div fps"))
      .drop("hdr", "w0", "h0", "f0", "body", "fsz")
  }

  /** Frame-sample + per-frame feature extraction over the Y4M bytes:
    * every `stride`-th frame (t = 0, stride, 2*stride, …) emits its
    * integer luma sum and — for sampled frames with a predecessor — the
    * total absolute luma delta vs the PREVIOUS SAMPLED frame (the
    * frame-differencing signal a scene-cut detector thresholds). The
    * header is parsed from the ASCII bytes, frames are addressed at
    * header_len + t*(6 + w*h) + 6, and all sums are exact integers so
    * the oracle can replay every pixel from the generator contract.
    * mapPartitions = the one-codec-context-per-partition batch shape of
    * a real ffmpeg/PyAV decode; only (doc_id, frame, luma_sum,
    * delta_prev) rows ever shuffle — the blobs stay in the scan.
    */
  def videoFrameFeatures(df: DataFrame, stride: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          // Header walk with structural gates (quarantine-by-drop,
          // never an exception): the newline search is bounded by the
          // payload, tags parse defensively (missing/empty/oversized
          // → -1), and the frame region must divide exactly into
          // FRAME-marker + Cmono-plane units. Each visited frame then
          // re-verifies its 6-byte "FRAME\n" marker and the walk stops
          // at the first desync — the same bail-don't-read-garbage
          // rule as the JPEG marker walk.
          var hl = 0
          while (hl < p.length && p(hl) != '\n'.toByte) hl += 1
          if (hl >= p.length) Iterator.empty
          else {
          hl += 1
          val hdr = new String(p, 0, hl - 1, "US-ASCII")
          def tag(t: Char): Int = {
            val d = hdr.split(' ')
              .find(f => f.nonEmpty && f.head == t)
              .map(_.tail.takeWhile(_.isDigit)).getOrElse("")
            if (d.isEmpty || d.length > 6) -1 else d.toInt
          }
          val w = tag('W')
          val h = tag('H')
          // Long frame-unit math (the expression path already does
          // this): tags reach 999999, so an Int w*h wraps — a crafted
          // w*h ≡ -6 (mod 2^32) made frameBytes 0 and the divisibility
          // gate itself threw ArithmeticException; other wraps mis-gate.
          // In Long, w*h ≤ ~1e12 is exact, and any frameBytes larger
          // than the payload yields nFrames = 0 (no walk).
          val frameBytes = 6L + w.max(0).toLong * h.max(0).toLong
          val ok = hdr.startsWith("YUV4MPEG2 ") && w >= 1 && h >= 1 &&
            hdr.split(' ').contains("Cmono") &&
            (p.length - hl) % frameBytes == 0L
          if (!ok) Iterator.empty
          else {
          // Offsets below fit Int whenever a frame exists: t < nFrames
          // bounds t·frameBytes by the payload length.
          val nFrames = ((p.length - hl) / frameBytes).toInt
          val mark = "FRAME\n".getBytes("US-ASCII")
          def markerOk(t: Int): Boolean = {
            val off = (hl + t * frameBytes).toInt
            var k = 0
            while (k < 6 && p(off + k) == mark(k)) k += 1
            k == 6
          }
          val goodFrames = (0 until nFrames)
            .takeWhile(markerOk).size // first desync ends the walk
          var prev: Array[Byte] = null
          (0 until goodFrames by stride).iterator.map { t =>
            val off = (hl + t * frameBytes).toInt + 6
            var luma = 0L
            var i = 0
            while (i < w * h) { luma += (p(off + i) & 0xFF); i += 1 }
            val delta: java.lang.Long = if (prev == null) null else {
              val pOff = (hl + (t - stride) * frameBytes).toInt + 6
              var d = 0L
              var j = 0
              while (j < w * h) {
                d += math.abs((p(off + j) & 0xFF) - (p(pOff + j) & 0xFF))
                j += 1
              }
              java.lang.Long.valueOf(d)
            }
            prev = p // marker only; offsets recomputed from t - stride
            (id, t, luma, delta)
          }
          }
          }
        }
      }
      .toDF("doc_id", "frame", "luma_sum", "delta_prev")
  }

  // ---- perceptual hash (dHash) over the real BMP pixel bytes ----

  /** 64-bit difference hash (dHash) of each BMP blob, computed FROM THE
    * PAYLOAD BYTES — the perceptual fingerprint step of an image dedup
    * pipeline (a brightness shift, re-encode or light recompression
    * keeps horizontal gradients, so dHash survives edits that break
    * md5; MediaBlobsSpec proves the brightness invariance on a
    * synthesized +10 copy).
    *
    * HASH CONTRACT (replayed by the q_image_dhash / q_image_neardup
    * oracles; keep in lockstep):
    *   grid   = 9 wide × 8 tall, nearest-neighbor: the grid pixel
    *            (xd, yd) reads source pixel (xd*w div 9, yd*h div 8)
    *   gray   = R + G + B of that pixel (exact integer luma proxy —
    *            monotone in brightness, no division to drift)
    *   bit i (= yd*8 + xd, xd in 0..7) set iff
    *            gray(xd+1, yd) > gray(xd, yd)
    *   dh_lo  = bits 0..31 (rows 0..3), dh_hi = bits 32..63 — two
    *            non-negative 32-bit halves so BOTH engines stay inside
    *            signed-BIGINT shifts; hamming(a, b) =
    *            bit_count(xor) summed over the halves.
    *
    * The byte addressing is the BMP container contract (bottom-up
    * 4-byte-padded BGR rows at 54 + (h-1-sy)*rowSize + sx*3), same as
    * resizeBmpThumb; mapPartitions is the one-codec-context-per-
    * partition batch-decode shape. Non-BMP blobs are passed over.
    * 100 TB: per-row map over the blob column, no shuffle; only the
    * 16-byte (id, hi, lo) rows ever move.
    */
  /** The single dHash kernel both entry points below share (the hash
    * contract is oracle-replayed in three queries — one copy of the
    * header-parse/grid/hash loop means an edit can't silently break
    * hash agreement between them): BMP header parse + 9×8 grid grays +
    * gradient bits. Returns Some((w, h, dh_hi, dh_lo)); None for
    * non-BMP bytes.
    */
  private[graft] def dhashOne(p: Array[Byte]): Option[(Int, Int, Long, Long)] = {
    if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte ||
      !bmpGridFits(p)) None
    else {
      val le = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = le.getInt(18)
      val h = le.getInt(22)
      val rowSize = ((3 * w + 3) / 4) * 4
      def gray(xd: Int, yd: Int): Int = {
        val sx = xd * w / 9
        val sy = yd * h / 8
        val off = 54 + (h - 1 - sy) * rowSize + sx * 3
        (p(off) & 0xFF) + (p(off + 1) & 0xFF) + (p(off + 2) & 0xFF)
      }
      var lo = 0L
      var hi = 0L
      var yd = 0
      while (yd < 8) {
        var xd = 0
        var g0 = gray(0, yd)
        while (xd < 8) {
          val g1 = gray(xd + 1, yd)
          if (g1 > g0) {
            val i = yd * 8 + xd
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          g0 = g1
          xd += 1
        }
        yd += 1
      }
      Some((w, h, hi, lo))
    }
  }

  def dhashBmp(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          dhashOne(p).map { case (_, _, hi, lo) => (id, hi, lo) }
        }
      }
      .toDF("doc_id", "dh_hi", "dh_lo")
  }

  /** dhashBmp plus the per-blob metadata its dedup consumers need —
    * exact-dup key (md5 of the payload bytes, identical to Spark's
    * `md5()` hex) and pixel area from the decoded dims — in the SAME
    * single pass. Exists because the join-back formulation
    * (`dhashBmp(blobs).join(blobs)`) re-reads the blob store and at
    * sf30 (1.5M blobs, ~7 GB of payloads) died broadcasting a join
    * side; a dedup pipeline touches each blob once. Returns
    * (doc_id, media_hash, area, dh_hi, dh_lo); non-BMP rows skipped.
    */
  def dhashBmpWithMeta(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, p) =>
          dhashOne(p).map { case (w, h, hi, lo) =>
            md.reset()
            val hash = md.digest(p).map("%02x".format(_)).mkString
            (id, hash, w.toLong * h, hi, lo)
          }
        }
      }
      .toDF("doc_id", "media_hash", "area", "dh_hi", "dh_lo")
  }

  // ---- image-embedding tower (cross-modal shared space, round 14) ----

  /** 64-dim patch-luma feature of one BMP payload — the IMAGE TOWER of
    * the cross-modal joint-embedding space (queries/Similarity.scala's
    * q_crossmodal_* family): an 8×8 nearest-neighbor grid over the
    * real pixel bytes (grid pixel (xd, yd) reads source pixel
    * (xd*w div 8, yd*h div 8), same container addressing as dhashOne),
    * gray = R+G+B per grid cell (exact integer luma proxy), then
    * zero-sum CENTERING in pure integers — f[k] = 64·gray[k] − Σ gray —
    * so the feature is the contrast PATTERN, invariant to global
    * brightness (the same invariance dHash exploits, kept exact for
    * the oracle). Values stay in [−48000, 48000]: every downstream ±1
    * projection and 16-dim dot is integer-exact in a double.
    * Returns None for non-BMP bytes (a real pipeline routes by format).
    */
  private[graft] def imageFeatOne(p: Array[Byte]): Option[Array[Long]] = {
    if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte ||
      !bmpGridFits(p)) None
    else {
      val le = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val w = le.getInt(18)
      val h = le.getInt(22)
      val rowSize = ((3 * w + 3) / 4) * 4
      val gr = new Array[Long](64)
      var total = 0L
      var k = 0
      while (k < 64) {
        val sx = (k % 8) * w / 8
        val sy = (k / 8) * h / 8
        val off = 54 + (h - 1 - sy) * rowSize + sx * 3
        gr(k) = (p(off) & 0xFF) + (p(off + 1) & 0xFF) + (p(off + 2) & 0xFF)
        total += gr(k)
        k += 1
      }
      val f = new Array[Long](64)
      k = 0
      while (k < 64) { f(k) = 64 * gr(k) - total; k += 1 }
      Some(f)
    }
  }

  /** (doc_id, f bigint[64]) image-tower features decoded from the blob
    * column; non-BMP rows skipped. One pass over the bytes, no shuffle.
    */
  def imageEmbFromBytes(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, p) =>
        imageFeatOne(p).map(f => (id, f))
      })
      .toDF("doc_id", "f")
  }

  /** Persisted image-embedding store — build once, query many (the
    * posture of IvfPqIndex/ensureLshIndex): the blob store is scanned
    * ONCE, features land as parquet keyed by the documents content
    * tag, and every cross-modal query answers from the 512-byte
    * feature rows instead of re-decoding payloads. 100 TB: the build
    * is an embarrassingly parallel decode pass; searches never touch
    * blob bytes again.
    */
  def ensureImageEmbStore(s: SparkSession, dir: String): String =
    graft.operators.Artifact.derive(s, "imgemb", dir, "documents") { out =>
      imageEmbFromBytes(graft.operators.Artifact.read(s, ensureStore(s, dir)))
        .write.parquet(out)
    }

  // ---- JPEG / GIF modality: REAL codec output (javax.imageio) ----

  /** Real JPEG or GIF bytes for one seed g, produced by the JDK's OWN
    * encoders (javax.imageio JPEGImageWriter / GIFImageWriter) — unlike
    * the hand-assembled BMP/PNG/WAV/Y4M containers these carry genuine
    * entropy-coded scan data (Huffman-coded DCT blocks, LZW-compressed
    * palette indices), so the decoder below must walk real
    * variable-length segment structure, not a fixed layout.
    *
    * GENERATOR CONTRACT (replayed by q_multimodal_codecs' oracle;
    * dims shared with the BMP/PNG contract):
    *   width  = 200 + (g * 13) % 800,  height = 2 + g % 5
    *   g even -> baseline JPEG (3-component YCbCr, 8-bit, JFIF APP0),
    *             RGB pixel (x,y,c) = (x + 7*y + 11*c + g) % 251
    *   g odd  -> GIF89a (single gray plane -> 256-entry palette,
    *             8 gct bits), sample (x,y) = (x + 7*y + g) % 251
    * JPEG is lossy and GIF re-palettizes, so only HEADER fields are
    * oracle-replayed (fmt/version/dims/components/precision) — the
    * pixel-exact loop stays with the BMP/PNG contract. Encoder output
    * is deterministic for a fixed JVM (asserted in MediaBlobsSpec).
    */
  private[graft] def codecBlobFor(g: Long): Array[Byte] = {
    val w = (200 + (g * 13) % 800).toInt
    val h = (2 + g % 5).toInt
    val out = new java.io.ByteArrayOutputStream()
    if (g % 2 == 0) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((x + 7 * y + g) % 251).toInt
          val gg = ((x + 7 * y + 11 + g) % 251).toInt
          val b = ((x + 7 * y + 22 + g) % 251).toInt
          img.setRGB(x, y, (r << 16) | (gg << 8) | b)
          x += 1
        }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpeg", out)
    } else {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((x + 7 * y + g) % 251).toInt)
          x += 1
        }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "gif", out)
    }
    out.toByteArray
  }

  /** Codec blob table twin of ensureStore: (doc_id, payload) of real
    * JPEG/GIF files.
    */
  def ensureCodecStore(s: SparkSession, dir: String): String =
    blobStore(s, dir, "codec", codecBlobFor)

  /** Header decode for the codec formats — a real structural parse,
    * per format:
    *   JPEG: verify the FFD8 SOI, then WALK the length-prefixed marker
    *     segments (each FFxx + big-endian u16 length) exactly as a
    *     strict jpeg_read_header does: each step REQUIRES the 0xFF
    *     marker prefix at the cursor (a byte that isn't 0xFF means the
    *     walk desynchronized — bail to the sentinel row instead of
    *     reading garbage dims), tolerates runs of 0xFF FILL bytes
    *     before the marker id (legal padding per ITU T.81 §B.1.1.2),
    *     steps over the standalone no-length markers (TEM 0x01, RSTn
    *     0xD0-0xD7), stops undecoded at EOI/SOS-before-SOF, and skips
    *     APPn/DQT/DHT/COM until the first frame header (SOF0..SOF15
    *     minus DHT/JPG/DAC), reading sample precision, height, width
    *     and component count from it; `version` = 'jfif' when the
    *     first segment is a JFIF APP0.
    *   GIF: 'GIF' signature + version bytes ('89a'/'87a'), LE u16
    *     logical-screen dims, global-color-table bits from the packed
    *     flags byte; single-plane -> 1 component.
    * Returns (doc_id, fmt, version, width, height, n_components,
    * bit_depth). mapPartitions = the library-decode batch shape;
    * unknown magic -> format-null row, SOI-but-undecodable (truncated,
    * desynced, scan-before-frame) -> fmt='jpeg' with null version and
    * sentinel dims (a real pipeline routes both to quarantine).
    */
  def decodeCodecDims(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          def u16be(i: Int) = ((p(i) & 0xFF) << 8) | (p(i + 1) & 0xFF)
          def u16le(i: Int) = (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)
          if (p.length > 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) {
            val jfif = p.length > 10 && (p(3) & 0xFF) == 0xE0 &&
              new String(p, 6, 4, "US-ASCII") == "JFIF"
            var pos = 2
            var desynced = false
            var res: (Long, String, String, Long, Long, Int, Int) = null
            while (res == null && !desynced && pos + 1 < p.length) {
              if ((p(pos) & 0xFF) != 0xFF) desynced = true
              else {
                // legal 0xFF fill bytes may pad before the marker id
                while (pos + 2 < p.length && (p(pos + 1) & 0xFF) == 0xFF)
                  pos += 1
                val marker = p(pos + 1) & 0xFF
                val isSof = marker >= 0xC0 && marker <= 0xCF &&
                  marker != 0xC4 && marker != 0xC8 && marker != 0xCC
                if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7))
                  pos += 2 // standalone: TEM / RSTn carry no length
                else if (marker == 0x00 || marker == 0xD9 || marker == 0xDA)
                  desynced = true // stuffed byte / EOI / scan before SOF
                else if (pos + 3 >= p.length) desynced = true // truncated
                else {
                  val len = u16be(pos + 2)
                  if (len < 2) desynced = true
                  else if (isSof) {
                    if (pos + 9 >= p.length) desynced = true
                    else res = (id, "jpeg", if (jfif) "jfif" else "raw",
                      u16be(pos + 7).toLong, u16be(pos + 5).toLong,
                      p(pos + 9) & 0xFF, p(pos + 4) & 0xFF)
                  } else pos += 2 + len
                }
              }
            }
            if (res != null) res
            else (id, "jpeg", null.asInstanceOf[String], -1L, -1L, -1, -1)
          } else if (p.length > 12 &&
              new String(p, 0, 3, "US-ASCII") == "GIF") {
            val version = new String(p, 3, 3, "US-ASCII") match {
              case "89a" => "89a"
              case "87a" => "87a"
              case _ => null
            }
            // GIF carries no header checksum, so the structural gates
            // are the version bytes and the mandatory 0x3B trailer as
            // the final byte — a truncated stream fails the latter.
            // Either failing → the same null-version sentinel row the
            // JPEG walk emits (quarantine, not garbage LSD dims).
            if (version == null || (p(p.length - 1) & 0xFF) != 0x3B)
              (id, "gif", null.asInstanceOf[String], -1L, -1L, -1, -1)
            else {
              val packed = p(10) & 0xFF
              val gctBits = if ((packed & 0x80) != 0) (packed & 7) + 1 else 0
              (id, "gif", version, u16le(6).toLong, u16le(8).toLong,
                1, gctBits)
            }
          } else
            (id, null.asInstanceOf[String], null.asInstanceOf[String],
              -1L, -1L, -1, -1)
        }
      }
      .toDF("doc_id", "fmt", "version", "width", "height",
        "n_components", "bit_depth")
  }

  // ---- per-partition decoder (the library-decode batch shape) ----

  /** The same header parse as a mapPartitions decoder: one ByteBuffer
    * "codec context" pattern per partition, strict PNG IHDR CRC
    * verification and a BMP grid-fit check (a corrupt header is
    * QUARANTINED to the sentinel row — never thrown, never returned as
    * garbage dims; the expression path trusts the magic). Returns
    * (doc_id, fmt, width, height, bit_depth, channels).
    */
  def decodeDims(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val crc = new java.util.zip.CRC32() // per-partition context
        it.map { case (id, p) =>
          val bb = java.nio.ByteBuffer.wrap(p)
          if (p.length >= 26 && p(0) == 'B'.toByte && p(1) == 'M'.toByte) {
            // bmpGridFits: a dim-flip or truncation yields the
            // sentinel row, not header-faithful-but-garbage dims (it
            // also guarantees length >= 54, so the getShort(28) below
            // can't run off a 26..29-byte stub).
            if (!bmpGridFits(p)) (id, "bmp", -1L, -1L, -1, -1)
            else {
              val le = bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val bpp = le.getShort(28).toInt
              (id, "bmp", le.getInt(18).toLong, le.getInt(22).toLong,
                bpp / 3, 3)
            }
          } else if (p.length >= 33 && (p(0) & 0xFF) == 0x89 &&
              p(1) == 'P'.toByte && p(2) == 'N'.toByte && p(3) == 'G'.toByte) {
            // IHDR spans bytes [12, 29): type (4) + data (13); its CRC
            // sits at [29, 33). A CRC mismatch is the quarantine row —
            // PNG ships the checksum precisely so a strict parser can
            // reject a corrupted header; throwing here instead would
            // let one flipped bit kill the whole task at 100 TB.
            crc.reset(); crc.update(p, 12, 17)
            if (crc.getValue.toInt != bb.getInt(29))
              (id, "png", -1L, -1L, -1, -1)
            else {
              val colorType = p(25) & 0xFF
              (id, "png", bb.getInt(16).toLong, bb.getInt(20).toLong,
                p(24) & 0xFF, if (colorType == 0) 1 else 3)
            }
          } else (id, null.asInstanceOf[String], -1L, -1L, -1, -1)
        }
      }
      .toDF("doc_id", "fmt", "width", "height", "bit_depth", "channels")
  }
}
