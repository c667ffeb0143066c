package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Parity.r4

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * decoded per-partition in batches.
  *
  * The decode path is REAL: each payload is a well-formed media
  * container (WAV RIFF or BMP), and [[parseMedia]] derives the metadata
  * exclusively by parsing the container's binary header — a RIFF chunk
  * walk with little-endian field reads, exactly what a production
  * decoder does before handing the sample data to a codec. Since the
  * test corpus has no media files, [[encodeMedia]] is the stand-in for
  * "read bytes from storage": it wraps each document's bytes in a valid
  * container whose parameters are deterministic functions of
  * (doc_id, payload length), which is what lets DuckDB predict the
  * parsed fields independently — the oracle computes the metadata from
  * the construction formulas, Spark recovers it ONLY from the bytes, and
  * the hash match proves the parser correct. Only the sample-data
  * decode (the codec itself) remains out of scope in this environment.
  *
  * Scale notes: mapPartitions streams rows (no per-row task overhead, no
  * driver collection); binary payloads stay columnar until the decode
  * boundary; a real codec call slots in after [[parseMedia]] unchanged.
  */
object Multimodal {

  case class MediaIn(doc_id: Long, blob: Array[Byte])
  case class MediaMeta(doc_id: Long, fmt: String, byte_len: Long,
      width: Long, height: Long, sample_rate: Long, channels: Long,
      duration_ms: Long)

  /** Test-corpus container writer (the stand-in for reading real media
    * files): wraps a payload in a valid WAV (even doc_id) or BMP (odd)
    * container. Parameters are deterministic in (doc_id, payload
    * length) so the oracle can predict what the parser must recover:
    *  - WAV: PCM, channels = 1+((doc_id/2)%2), rate = 8000*(1+doc_id%3),
    *    16-bit; layout RIFF[WAVE] + fmt(16) + data(payload) = 44+len.
    *  - BMP: 24bpp, width = 16+(doc_id%32), height = 1+len/(3*width);
    *    54-byte header + payload as (unpadded) pixel data.
    */
  private[graft] def encodeMedia(id: Long, payload: Array[Byte]): Array[Byte] = {
    val len = payload.length
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val out = new java.io.ByteArrayOutputStream(len + 64)
    def ascii(s: String) = out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    if (id % 2 == 0) {
      val channels = (1 + (id / 2) % 2).toInt
      val rate = (8000 * (1 + id % 3)).toInt
      val bits = 16
      val byteRate = rate * channels * (bits / 8)
      ascii("RIFF"); out.write(le32(36L + len)); ascii("WAVE")
      ascii("fmt "); out.write(le32(16)); out.write(le16(1)) // PCM
      out.write(le16(channels)); out.write(le32(rate)); out.write(le32(byteRate))
      out.write(le16(channels * (bits / 8))); out.write(le16(bits))
      ascii("data"); out.write(le32(len)); out.write(payload, 0, len)
    } else {
      val width = (16 + id % 32).toInt
      val height = (1 + len / (3L * width)).toInt
      ascii("BM"); out.write(le32(54L + len)); out.write(le32(0)) // reserved
      out.write(le32(54)) // pixel-data offset
      out.write(le32(40)) // BITMAPINFOHEADER size
      out.write(le32(width)); out.write(le32(height))
      out.write(le16(1)) // planes
      out.write(le16(24)) // bpp
      out.write(le32(0)) // BI_RGB
      out.write(le32(len)) // biSizeImage
      out.write(le32(2835)); out.write(le32(2835)) // 72 dpi
      out.write(le32(0)); out.write(le32(0)) // palette
      out.write(payload, 0, len)
    }
    out.toByteArray
  }

  /** The REAL decode boundary: recover typed metadata from container
    * bytes alone. WAV: verify the RIFF/WAVE magic, then walk the chunk
    * list (word-aligned sizes) picking `fmt ` (channels, sample rate,
    * bits) and `data` (sample byte count); duration is derived from the
    * parsed byte rate, never from the payload we happened to wrap. BMP:
    * verify the BM magic, read width/height out of BITMAPINFOHEADER.
    * Unknown magic → "unknown" row, never an exception (a corrupt blob
    * in a 100 TB corpus must not kill the stage). */
  private[graft] def parseMedia(id: Long, b: Array[Byte]): MediaMeta = {
    def u16(off: Int): Long = ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)).toLong
    def u32(off: Int): Long =
      ((b(off) & 0xff).toLong | ((b(off + 1) & 0xff).toLong << 8) |
        ((b(off + 2) & 0xff).toLong << 16) | ((b(off + 3) & 0xff).toLong << 24))
    def tag(off: Int): String =
      if (off + 4 <= b.length)
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    if (tag(0) == "RIFF" && tag(8) == "WAVE") {
      // Walk offset in Long: a corrupt chunk size near 2^32 must advance
      // past b.length and end the loop, never wrap negative (infinite
      // loop) or index out of bounds — u32 is unsigned so off grows by
      // >= 8 every iteration.
      var off = 12L
      var rate = 0L; var ch = 0L; var bits = 0L; var dataLen = 0L
      while (off + 8 <= b.length) {
        val o = off.toInt
        val sz = u32(o + 4)
        tag(o) match {
          case "fmt " if off + 24 <= b.length =>
            ch = u16(o + 10); rate = u32(o + 12); bits = u16(o + 22)
          case "data" => dataLen = sz
          case _ =>
        }
        off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      val byteRate = rate * ch * (bits / 8)
      MediaMeta(id, "wav", b.length.toLong, 0L, 0L, rate, ch,
        if (byteRate > 0) dataLen * 1000L / byteRate else 0L)
    } else if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
      MediaMeta(id, "bmp", b.length.toLong, u32(18), u32(22), 0L, 0L, 0L)
    } else {
      MediaMeta(id, "unknown", b.length.toLong, 0L, 0L, 0L, 0L, 0L)
    }
  }

  case class FrameOut(doc_id: Long, fmt: String, frame_idx: Long,
      frame_off: Long, frame_len: Long, frame_md5: String, frame_peak: Long)

  /** Frame extraction from container bytes alone — the per-frame
    * analogue of [[parseMedia]]. The payload location AND the frame
    * stride come exclusively from parsing the header:
    *  - WAV: walk the RIFF chunk list to the `data` chunk (payload
    *    bounds) and `fmt ` (block align); one frame = 32 sample blocks
    *    = 32 · blockAlign payload bytes.
    *  - BMP: pixel data starts at the parsed offset field (bytes
    *    10-13); one frame = one pixel row = 3 · parsed-width bytes
    *    (24 bpp, unpadded).
    * Per frame: byte offset within the payload, byte length (the tail
    * frame may be short), the md5 of exactly those payload bytes, and
    * the peak unsigned byte — real per-frame content features a codec
    * stage would consume, each independently recomputable by the
    * oracle from the construction formulas while Spark recovers them
    * ONLY from the bytes. Unknown magic → one whole-payload "unknown"
    * frame (corrupt blobs must not kill the stage). */
  private[graft] def parseFrames(id: Long, b: Array[Byte]): Seq[FrameOut] = {
    def u16(off: Int): Long = ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)).toLong
    def u32(off: Int): Long =
      ((b(off) & 0xff).toLong | ((b(off + 1) & 0xff).toLong << 8) |
        ((b(off + 2) & 0xff).toLong << 16) | ((b(off + 3) & 0xff).toLong << 24))
    def tag(off: Int): String =
      if (off + 4 <= b.length)
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    // (fmt, payloadOff, payloadLen, stride) from the header walk
    val (fmt, pOff, pLen, stride): (String, Long, Long, Long) =
      if (tag(0) == "RIFF" && tag(8) == "WAVE") {
        var off = 12L
        var blockAlign = 0L; var dOff = 0L; var dLen = 0L
        while (off + 8 <= b.length) {
          val o = off.toInt
          val sz = u32(o + 4)
          tag(o) match {
            case "fmt " if off + 24 <= b.length => blockAlign = u16(o + 20)
            case "data" => dOff = off + 8; dLen = math.min(sz, b.length - dOff)
            case _ =>
          }
          off += 8 + sz + (sz & 1)
        }
        ("wav", dOff, math.max(dLen, 0L),
          32L * (if (blockAlign > 0) blockAlign else 2L))
      } else if (b.length >= 54 && b(0) == 'B' && b(1) == 'M') {
        val off = u32(10) // parsed pixel-data offset
        val width = u32(18)
        ("bmp", off, math.max(b.length - off, 0L),
          3L * (if (width > 0) width else 1L))
      } else ("unknown", 0L, b.length.toLong, math.max(b.length.toLong, 1L))
    val nFrames = math.max(1L, (pLen + stride - 1) / stride)
    val md = java.security.MessageDigest.getInstance("MD5")
    (1L to nFrames).map { i =>
      val fOff = (i - 1) * stride
      val fLen = math.max(0L, math.min(stride, pLen - fOff))
      val start = (pOff + fOff).toInt
      md.reset()
      md.update(b, start, fLen.toInt)
      val hex = md.digest().map(x => f"$x%02x").mkString
      var peak = 0L
      var j = 0
      while (j < fLen) { // peak unsigned byte in the frame
        val v = (b(start + j) & 0xff).toLong
        if (v > peak) peak = v
        j += 1
      }
      FrameOut(id, fmt, i, fOff, fLen, hex, peak)
    }
  }

  /** Frame sampling over the media corpus: wrap each document's bytes
    * in its container (the storage stand-in), then recover one row per
    * frame by PARSING — see [[parseFrames]]. mapPartitions streams
    * rows and frames stay partition-local (no shuffle before the
    * output sort); a real codec's frame loop slots in unchanged. */
  def sampleFrames(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in: Dataset[MediaIn] = docs
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[MediaIn]
    in.mapPartitions(_.flatMap(r => parseFrames(r.doc_id, encodeMedia(r.doc_id, r.blob))))
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  case class MediaVerdict(doc_id: Long, fmt: String, byte_len: Long,
      status: String, reason: String)

  /** Deterministic corpus noise for the quarantine path: docs with
    * id ≡ 3 (mod 7) arrive TRUNCATED to 20 bytes (storage short-read),
    * id ≡ 5 (mod 7) with a flipped magic byte (bit-rot) — the stand-in
    * for the damaged samples every real media corpus contains. Applied
    * AFTER [[encodeMedia]], so the G1–G3 decode queries keep their
    * clean corpus; the formulas let the oracle predict each verdict
    * while Spark must recover it from the bytes alone. */
  private[graft] def corruptMedia(id: Long, blob: Array[Byte]): Array[Byte] =
    if (id % 7 == 3) blob.take(20)
    else if (id % 7 == 5) { val c = blob.clone(); c(0) = (c(0) ^ 0x7f).toByte; c }
    else blob

  /** STRICT container validation from bytes alone — the admission gate
    * a multimodal ingest runs before any codec touches a sample: magic
    * check, minimum-header check, and declared-size-vs-actual check,
    * each mapped to a reason code (`truncated` / `bad_magic` /
    * `size_mismatch` / `ok`). Never throws — a corrupt blob in a
    * 100 TB corpus must quarantine, not kill the stage. */
  private[graft] def validateMedia(id: Long, b: Array[Byte]): MediaVerdict = {
    def u32(off: Int): Long =
      ((b(off) & 0xff).toLong | ((b(off + 1) & 0xff).toLong << 8) |
        ((b(off + 2) & 0xff).toLong << 16) | ((b(off + 3) & 0xff).toLong << 24))
    def tag(off: Int): String =
      if (off + 4 <= b.length)
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    val n = b.length.toLong
    if (tag(0) == "RIFF") {
      if (b.length < 44) MediaVerdict(id, "wav", n, "quarantined", "truncated")
      else if (tag(8) != "WAVE") MediaVerdict(id, "wav", n, "quarantined", "bad_magic")
      else if (8L + u32(4) != n) MediaVerdict(id, "wav", n, "quarantined", "size_mismatch")
      else MediaVerdict(id, "wav", n, "ok", "ok")
    } else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') {
      if (b.length < 54) MediaVerdict(id, "bmp", n, "quarantined", "truncated")
      else if (u32(2) != n) MediaVerdict(id, "bmp", n, "quarantined", "size_mismatch")
      else MediaVerdict(id, "bmp", n, "ok", "ok")
    } else MediaVerdict(id, "unknown", n, "quarantined", "bad_magic")
  }

  /** Corrupt-sample quarantine report: encode (storage stand-in),
    * apply the deterministic corpus noise, validate every blob from
    * bytes alone — one verdict row per sample. mapPartitions streams;
    * no shuffle before the output sort. */
  def mediaQuarantine(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in: Dataset[MediaIn] = docs
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[MediaIn]
    in.mapPartitions(_.map(r =>
        validateMedia(r.doc_id, corruptMedia(r.doc_id, encodeMedia(r.doc_id, r.blob)))))
      .toDF()
      .orderBy(col("doc_id"))
  }

  case class PhashOut(doc_id: Long, width: Long, height: Long,
      phash_hi: Long, phash_lo: Long)

  /** 8×8 average-hash (aHash, the classic perceptual image fingerprint)
    * over a BMP's pixel buffer, from BYTES ALONE: pixel-data offset,
    * width and height come from the parsed header (never the
    * construction formulas); every payload byte lands in one of 64
    * (row-band, col-band) cells by integer division; a cell's bit is
    * set iff its byte average ≥ the global average, compared as the
    * exact integer cross-product cs·tc ≥ ts·cc — no float, no division
    * (bounded: 255·len² < 2⁶³ up to ~190 MB per image). Non-BMP or
    * empty-payload blobs → None (quarantine, not a crash). */
  private[graft] def parsePhash(id: Long, b: Array[Byte]): Option[PhashOut] = {
    def u32(off: Int): Long =
      ((b(off) & 0xff).toLong | ((b(off + 1) & 0xff).toLong << 8) |
        ((b(off + 2) & 0xff).toLong << 16) | ((b(off + 3) & 0xff).toLong << 24))
    if (!(b.length >= 54 && b(0) == 'B' && b(1) == 'M')) None
    else {
      val off = u32(10).toInt
      val w = u32(18); val h = u32(22)
      val len = b.length - off
      if (len <= 0 || w <= 0 || h <= 0 || off < 0) None
      else {
        val stride = 3L * w
        val cs = new Array[Long](64); val cc = new Array[Long](64)
        var p = 0
        while (p < len) {
          val br = math.min(7L, (p / stride) * 8 / h)
          val bc = math.min(7L, ((p % stride) / 3) * 8 / w)
          val cell = (br * 8 + bc).toInt
          cs(cell) += (b(off + p) & 0xff); cc(cell) += 1
          p += 1
        }
        val ts = cs.sum; val tc = cc.sum
        var hi = 0L; var lo = 0L
        var i = 0
        while (i < 64) {
          if (cc(i) > 0 && cs(i) * tc >= ts * cc(i)) {
            if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
          }
          i += 1
        }
        Some(PhashOut(id, w, h, hi, lo))
      }
    }
  }

  /** Perceptual near-dup fingerprints over the image slice of the media
    * corpus: encode (storage stand-in), compute the aHash by parsing —
    * see [[parsePhash]] — then count fingerprint collisions (`n_same`)
    * over the hash-partitioned window. The window partitions on the
    * 16-byte hash pair, so at 100 TB each partition is one perceptual
    * bucket (collision-group sized), never a corpus sort; only 5-long
    * rows reach the exchange — pixels stay inside the map stage. */
  def mediaPhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in: Dataset[MediaIn] = docs
      .filter(col("doc_id") % 2 === 1 && length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[MediaIn]
    val ph = in.mapPartitions(_.flatMap(r =>
        parsePhash(r.doc_id, encodeMedia(r.doc_id, r.blob))))
      .toDF()
    val wHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("phash_hi"), col("phash_lo"))
    ph.withColumn("n_same", count(lit(1)).over(wHash))
      .orderBy(col("doc_id"))
  }

  /** Per-format corpus statistics over the decoded metadata — the
    * "what's in this media corpus" rollup a multimodal curation run
    * starts with. Composes [[extractMeta]] (the typed decode boundary)
    * with a plain aggregate; all fields are parsed integers, so the
    * averages are engine-exact integer ratios. */
  def mediaStats(docs: DataFrame): DataFrame = {
    val meta = extractMeta(docs)
    meta.groupBy(col("fmt"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("byte_len")).as("total_bytes"),
        r4(sum(col("width")).cast("double") / count(lit(1)))
          .as("avg_width"),
        r4(sum(col("height")).cast("double") / count(lit(1)))
          .as("avg_height"),
        sum(col("duration_ms")).as("total_duration_ms"),
        r4(sum(col("sample_rate")).cast("double") / count(lit(1)))
          .as("avg_sample_rate"))
      .orderBy(col("fmt"))
  }

  case class AudioEnergyOut(doc_id: Long, n_frames: Long,
      total_energy: Long, max_frame_energy: Long, peak_abs: Long)

  /** Signed-16-bit PCM frame energies from WAV container bytes alone —
    * the first CONTENT-level audio feature past the header boundary
    * (the signal-activity measure a speech/music curation pass
    * thresholds on). The data-chunk bounds and block alignment come
    * from the RIFF walk exactly as in [[parseFrames]]; each
    * little-endian sample pair decodes to a signed 16-bit value, and
    * per 32-block frame (64 bytes mono/16) the loop accumulates the
    * exact integer energy Σs² and peak |s| — no float ever appears, so
    * the numbers are engine-exact (≤ len/2 · 2³⁰ fits a BIGINT at any
    * document size). A trailing odd byte is not a sample and drops, as
    * does a declared-size overrun. */
  private[graft] def parseAudioEnergy(id: Long, b: Array[Byte]): AudioEnergyOut = {
    def u16(off: Int): Long = ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)).toLong
    def u32(off: Int): Long =
      ((b(off) & 0xff).toLong | ((b(off + 1) & 0xff).toLong << 8) |
        ((b(off + 2) & 0xff).toLong << 16) | ((b(off + 3) & 0xff).toLong << 24))
    def tag(off: Int): String =
      if (off + 4 <= b.length)
        new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    var off = 12L
    var blockAlign = 2L; var dOff = 0L; var dLen = 0L
    while (off + 8 <= b.length) {
      val o = off.toInt
      val sz = u32(o + 4)
      tag(o) match {
        case "fmt " if off + 24 <= b.length =>
          val ba = u16(o + 20); if (ba > 0) blockAlign = ba
        case "data" => dOff = off + 8; dLen = math.max(0L, math.min(sz, b.length - dOff))
        case _ =>
      }
      off += 8 + sz + (sz & 1)
    }
    val frameBytes = (32L * blockAlign).toInt
    val nSamples = (dLen / 2L).toInt
    var totalE = 0L; var maxE = 0L; var peak = 0L
    var frameE = 0L
    var nFrames = 0L
    var i = 0
    while (i < nSamples) {
      val base = (dOff + 2L * i).toInt
      var s = u16(base)
      if (s >= 32768L) s -= 65536L
      frameE += s * s
      val a = math.abs(s); if (a > peak) peak = a
      val atFrameEnd = ((2 * i) % frameBytes) == frameBytes - 2
      if (atFrameEnd || i == nSamples - 1) {
        nFrames += 1
        if (frameE > maxE) maxE = frameE
        totalE += frameE
        frameE = 0L
      }
      i += 1
    }
    AudioEnergyOut(id, nFrames, totalE, maxE, peak)
  }

  /** Audio-energy rollup over the WAV half of the media corpus (even
    * doc ids; ≥2 payload bytes so at least one sample exists). One
    * mapPartitions decode pass — bytes never shuffle; only the 5-long
    * feature row per doc reaches the output sort. */
  def audioEnergy(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in: Dataset[MediaIn] = docs
      .filter(col("doc_id") % 2 === 0 && length(col("text")) >= 2)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[MediaIn]
    in.mapPartitions(_.map(r => parseAudioEnergy(r.doc_id, encodeMedia(r.doc_id, r.blob))))
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Batch decode over a binary column: wrap each document's bytes in a
    * real container (the test corpus's stand-in for media files on
    * storage), then recover the metadata by PARSING the container
    * header — see [[parseMedia]]. */
  def extractMeta(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in: Dataset[MediaIn] = docs
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[MediaIn]
    in.mapPartitions(_.map(r => parseMedia(r.doc_id, encodeMedia(r.doc_id, r.blob))))
      .toDF()
      .orderBy(col("doc_id"))
  }
}
