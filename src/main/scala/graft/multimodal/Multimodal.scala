package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column handling (SURVEY.md §7.6; BASELINE.json north star).
  *
  * Convention: media travel as opaque `BinaryType` columns next to a typed
  * metadata struct; every cleaning operator in graft.ops type-dispatches and
  * passes non-atomic columns through untouched, so media survive a cleaning
  * pipeline unmodified.
  *
  * Real decode (image/audio libs) is NOT available in this environment —
  * [[stubDecodeFeatures]] is a clearly-marked deterministic stand-in with
  * the same shape a real decoder would produce; the Spark-side plumbing
  * (schema, batch iteration, partition-parallel execution) is real and is
  * what a production decoder would plug into.
  */
object Multimodal {

  val MetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a string column as a binary media column + metadata struct —
    * the corpus has no real media, so documents.text stands in as bytes. */
  def asMedia(df: DataFrame, srcCol: String): DataFrame =
    df.withColumn("content", col(srcCol).cast(BinaryType))
      .withColumn("meta", struct(
        lit("application/octet-stream").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))

  /** Cheap, SQL-expressible byte-level features: size + content hash.
    * Pure expressions — run in the scan stage. */
  def byteFeatures(df: DataFrame): DataFrame =
    df.withColumn("byte_len", length(col("content")).cast(LongType))
      .withColumn("content_sha", sha2(col("content"), 256))

  // ---- real container decode (r16 BMP/WAV, r17 PNG/GIF/JPEG) -------------
  // Container headers parse for real, scan-stage only, no codec
  // library, no Scala UDF. BMP, canonical PCM WAV, PNG IHDR
  // (big-endian) and GIF logical-screen descriptors are fixed-offset
  // pure byte-math expressions; JPEG's dims live in a variable-offset
  // SOF segment, so its decode is the one codegen marker-scan kernel
  // (functions/MediaKernels.JpegSofPacked). Everything else falls
  // through to the STUB decoder below, which is the unsupported-format
  // fallback rather than the only path.

  /** Hex pair of one byte value (0..255). Spark's `hex` is minimal-width,
    * so pad to 2. */
  private def hexByte(v: Column): Column =
    lpad(hex(v.cast(LongType)), 2, "0")

  /** Little-endian hex of the low `bytes` bytes of an integer column —
    * the building block for synthesizing binary headers via `unhex`. */
  private def leHex(v: Column, bytes: Int): Column =
    concat((0 until bytes).map(i =>
      hexByte(shiftright(v.cast(LongType), 8 * i).bitwiseAND(lit(255L)))): _*)

  /** Unsigned little-endian integer read from `len` bytes of a binary
    * column at 1-based `pos` — bytes re-hexed in reverse order, then one
    * base-16 `conv`. Null when the slice is short (conv of ''). */
  private def leUint(c: Column, pos: Int, len: Int): Column =
    conv(concat((len - 1 to 0 by -1).map(i =>
      hex(substring(c, pos + i, 1))): _*), 16, 10).cast(LongType)

  /** Unsigned BIG-endian integer read from `len` bytes at 1-based
    * `pos` — the big-endian twin of [[leUint]] (r16 verdict #4): a
    * binary slice's `hex` is already most-significant-byte-first, so
    * one substring + one base-16 `conv` does it. Null when the slice is
    * short. PNG's IHDR is the big-endian container in the family. */
  private def beUint(c: Column, pos: Int, len: Int): Column =
    conv(hex(substring(c, pos, len)), 16, 10).cast(LongType)

  /** Two's-complement reinterpretation of an unsigned 32-bit read —
    * BMP width/height are SIGNED (negative height = top-down rows). */
  private def signed32(v: Column): Column =
    when(v >= lit(2147483648L), v - lit(4294967296L)).otherwise(v)

  private def asciiLit(s: String): Column =
    lit(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** True when the column starts with a parseable BITMAPINFOHEADER BMP:
    * "BM" magic and at least the 54 header bytes present. */
  def isBmp(c: Column): Column =
    length(c) >= 54 && substring(c, 1, 2) === asciiLit("BM")

  /** True for a canonical 44-byte-header PCM WAV: RIFF/WAVE/fmt /data
    * chunk layout (the layout every uncompressed recorder writes). */
  def isWav(c: Column): Column =
    length(c) >= 44 &&
      substring(c, 1, 4) === asciiLit("RIFF") &&
      substring(c, 9, 8) === asciiLit("WAVEfmt ") &&
      substring(c, 37, 4) === asciiLit("data")

  /** True when the column starts with a parseable PNG: the fixed 8-byte
    * signature, the IHDR chunk tag at its mandatory first-chunk offset,
    * and at least the 33 bytes through IHDR's CRC present. */
  def isPng(c: Column): Column =
    length(c) >= 33 &&
      substring(c, 1, 8) === lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47,
        0x0D, 0x0A, 0x1A, 0x0A)) &&
      substring(c, 13, 4) === asciiLit("IHDR")

  /** True when the column starts with a GIF87a/GIF89a header with the
    * full 13-byte logical-screen descriptor present. */
  def isGif(c: Column): Column =
    length(c) >= 13 &&
      (substring(c, 1, 6) === asciiLit("GIF89a") ||
        substring(c, 1, 6) === asciiLit("GIF87a"))

  /** REAL PNG IHDR decode with pure byte math — the BIG-endian twin of
    * [[decodeBmpMeta]] (fixed offsets after the 8-byte signature:
    * 4-byte chunk length, "IHDR", then width/height as unsigned 32-bit
    * BE and five single-byte fields); all null on non-PNG content.
    * Header-only by design: dims/depth/color-type/interlace are what an
    * ingest filter needs, and none of it requires inflating IDAT.
    * Refreshes [[MetaType]] (mime + dims) for PNG rows. */
  def decodePngMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val png = isPng(c)
    def f(v: Column): Column = when(png, v)
    val withFields = df
      .withColumn("is_png", png)
      .withColumn("png_width", f(beUint(c, 17, 4)))
      .withColumn("png_height", f(beUint(c, 21, 4)))
      .withColumn("png_bit_depth", f(beUint(c, 25, 1)))
      .withColumn("png_color_type", f(beUint(c, 26, 1)))
      .withColumn("png_interlace", f(beUint(c, 29, 1)))
    if (!withFields.columns.contains("meta")) withFields
    else withFields.withColumn("meta",
      when(col("is_png"), struct(
        lit("image/png").as("mime"),
        col("png_width").cast(IntegerType).as("width"),
        col("png_height").cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
        .otherwise(col("meta")))
  }

  /** REAL GIF logical-screen-descriptor decode: canvas width/height
    * (16-bit LE), the packed flags byte split into global-color-table
    * presence and size (2^(bits+1) entries), and the background color
    * index; all null on non-GIF content. Refreshes [[MetaType]]. */
  def decodeGifMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val gif = isGif(c)
    def f(v: Column): Column = when(gif, v)
    val packed = leUint(c, 11, 1)
    val withFields = df
      .withColumn("is_gif", gif)
      .withColumn("gif_width", f(leUint(c, 7, 2)))
      .withColumn("gif_height", f(leUint(c, 9, 2)))
      .withColumn("gif_has_gct", f(shiftright(packed, 7) === 1L))
      .withColumn("gif_gct_size",
        f(when(shiftright(packed, 7) === 1L,
          call_function("shiftleft", lit(2L), packed.bitwiseAND(lit(7L)).cast(IntegerType)))))
      .withColumn("gif_bg_index", f(leUint(c, 12, 1)))
    if (!withFields.columns.contains("meta")) withFields
    else withFields.withColumn("meta",
      when(col("is_gif"), struct(
        lit("image/gif").as("mime"),
        col("gif_width").cast(IntegerType).as("width"),
        col("gif_height").cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
        .otherwise(col("meta")))
  }

  /** True when the column starts with the JPEG SOI marker — the cheap
    * magic sniff ([[decodeJpegMeta]] then requires a parseable SOF). */
  def isJpeg(c: Column): Column =
    length(c) >= 4 &&
      substring(c, 1, 2) === lit(Array[Byte](0xFF.toByte, 0xD8.toByte))

  /** REAL JPEG frame-header decode (r17) — unlike the fixed-offset
    * containers above, JPEG dims live in whichever SOF0/1/2 segment the
    * variable-length segment walk reaches, so the scan is the
    * [[graft.functions.JpegSofPacked]] codegen kernel (one static
    * marker walk per row inside the scan stage); the field extraction
    * from its packed long is plain shift/mask columns. `is_jpeg` is
    * true only for SOI + a parseable SOF — truncated or malformed
    * streams read as clean false/null rows, and `jpeg_progressive`
    * flags the SOF2 frames a downstream decoder pipeline treats
    * differently. Refreshes [[MetaType]] (mime + dims). */
  def decodeJpegMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val withPacked = df.withColumn("__jp",
      when(isJpeg(c), graft.functions.MediaKernels.jpegSof(c)))
    val p = col("__jp")
    def f(v: Column): Column = when(p.isNotNull, v)
    val withFields = withPacked
      .withColumn("is_jpeg", p.isNotNull)
      .withColumn("jpeg_width", f(p.bitwiseAND(lit(0xFFFFL))))
      .withColumn("jpeg_height",
        f(shiftright(p, 16).bitwiseAND(lit(0xFFFFL))))
      .withColumn("jpeg_precision",
        f(shiftright(p, 40).bitwiseAND(lit(0xFFL))))
      .withColumn("jpeg_ncomp", f(shiftright(p, 32).bitwiseAND(lit(0xFFL))))
      .withColumn("jpeg_progressive",
        f(shiftright(p, 48).bitwiseAND(lit(0xFFL)) === 0xC2L))
    val out =
      if (!withFields.columns.contains("meta")) withFields
      else withFields.withColumn("meta",
        when(col("is_jpeg"), struct(
          lit("image/jpeg").as("mime"),
          col("jpeg_width").cast(IntegerType).as("width"),
          col("jpeg_height").cast(IntegerType).as("height"),
          lit(null).cast(LongType).as("duration_ms")))
          .otherwise(col("meta")))
    out.drop("__jp")
  }

  /** REAL BMP header decode with pure byte math (offsets per the public
    * BITMAPFILEHEADER/BITMAPINFOHEADER layout): width/height (signed),
    * bits-per-pixel, declared file size, pixel-data offset and
    * compression code; all null on non-BMP content. Also refreshes the
    * [[MetaType]] struct (mime + dims) for BMP rows — the convention's
    * metadata is now derived from the bytes, not asserted by the
    * caller. */
  def decodeBmpMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val bmp = isBmp(c)
    def f(v: Column): Column = when(bmp, v)
    val width = f(signed32(leUint(c, 19, 4)))
    val height = f(signed32(leUint(c, 23, 4)))
    val withFields = df
      .withColumn("is_bmp", bmp)
      .withColumn("bmp_width", width)
      .withColumn("bmp_height", height)
      .withColumn("bmp_bpp", f(leUint(c, 29, 2)))
      .withColumn("bmp_file_size", f(leUint(c, 3, 4)))
      .withColumn("bmp_data_offset", f(leUint(c, 11, 4)))
      .withColumn("bmp_compression", f(leUint(c, 31, 4)))
    if (!withFields.columns.contains("meta")) withFields
    else withFields.withColumn("meta",
      when(col("is_bmp"), struct(
        lit("image/bmp").as("mime"),
        col("bmp_width").cast(IntegerType).as("width"),
        // rows render bottom-up for positive heights, top-down for
        // negative — the dimension is the magnitude either way
        abs(col("bmp_height")).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
        .otherwise(col("meta")))
  }

  /** REAL canonical-PCM-WAV header decode: channels, sample rate, bits
    * per sample, data-chunk byte length, derived sample count and
    * duration (integer math — byte_rate is exact for PCM); null on
    * non-WAV content. Refreshes [[MetaType]].duration_ms. */
  def decodeWavMeta(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val c = col(contentCol)
    val wav = isWav(c)
    def f(v: Column): Column = when(wav, v)
    val blockAlign = leUint(c, 33, 2)
    val byteRate = leUint(c, 29, 4)
    val dataSize = leUint(c, 41, 4)
    val withFields = df
      .withColumn("is_wav", wav)
      .withColumn("wav_channels", f(leUint(c, 23, 2)))
      .withColumn("wav_sample_rate", f(leUint(c, 25, 4)))
      .withColumn("wav_bits", f(leUint(c, 35, 2)))
      .withColumn("wav_data_bytes", f(dataSize))
      .withColumn("wav_n_samples", f(floor(dataSize / blockAlign).cast(LongType)))
      .withColumn("wav_duration_ms",
        f(floor(dataSize * 1000 / byteRate).cast(LongType)))
    if (!withFields.columns.contains("meta")) withFields
    else withFields.withColumn("meta",
      when(col("is_wav"), struct(
        lit("audio/wav").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        col("wav_duration_ms").as("duration_ms")))
        .otherwise(col("meta")))
  }

  /** Deterministic WELL-FORMED 24bpp BMP per row — dims derived from the
    * id, pixel bytes from the text's md5 stream — so the corpus (which
    * ships no real media) can exercise [[decodeBmpMeta]] end to end and
    * an external engine can verify the decoded fields from the same id
    * arithmetic. width = id%21+1, height = id%13+1, rows padded to 4
    * bytes per the format. Pure expressions: header hex is concatenated
    * little-endian byte pairs through one `unhex`. */
  def synthBmp(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = (col(idCol) % 21 + 1).cast(LongType)
    val h = (col(idCol) % 13 + 1).cast(LongType)
    // (3w + 3) & ~3 — BMP rows pad to 4-byte boundaries
    val rowSize = (w * 3 + 3).bitwiseAND(lit(-4L))
    val pixelBytes = rowSize * h
    val fileSize = pixelBytes + 54
    // max pixelBytes = 64*13 = 832 bytes = 1664 hex chars = 52 md5 reps
    val pixHex = repeat(md5(coalesce(col(textCol), lit(""))), 52)
      .substr(lit(1), (pixelBytes * 2).cast(IntegerType))
    val headerHex = concat(
      lit("424D"), leHex(fileSize, 4), lit("00000000"), leHex(lit(54), 4),
      leHex(lit(40), 4), leHex(w, 4), leHex(h, 4),
      leHex(lit(1), 2), leHex(lit(24), 2), leHex(lit(0), 4),
      leHex(pixelBytes, 4), leHex(lit(2835), 4), leHex(lit(2835), 4),
      leHex(lit(0), 4), leHex(lit(0), 4))
    df.withColumn("content", unhex(concat(headerHex, pixHex)))
      .withColumn("meta", struct(
        lit("image/bmp").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }

  /** Big-endian hex of the low `bytes` bytes of an integer column —
    * [[leHex]]'s twin for the PNG header. */
  private def beHex(v: Column, bytes: Int): Column =
    concat((bytes - 1 to 0 by -1).map(i =>
      hexByte(shiftright(v.cast(LongType), 8 * i).bitwiseAND(lit(255L)))): _*)

  /** Deterministic PNG signature + IHDR per row — dims from the same id
    * arithmetic as [[synthBmp]] (width=id%21+1, height=id%13+1), bit
    * depth 8, color type cycling {gray, rgb, rgba} by id%3, with a REAL
    * CRC32 over the chunk type+data (Spark's `crc32` builtin — any
    * external PNG parser accepts the IHDR). Header-only by design: the
    * decode under test never inflates IDAT, so synthesizing compressed
    * pixel data would add bytes no assertion reads. */
  def synthPng(df: DataFrame, idCol: String): DataFrame = {
    val w = (col(idCol) % 21 + 1).cast(LongType)
    val h = (col(idCol) % 13 + 1).cast(LongType)
    val colorType = when(col(idCol) % 3 === 0, 0L)
      .when(col(idCol) % 3 === 1, 2L).otherwise(6L)
    // IHDR tag + 13 data bytes; CRC32 covers exactly these 17 bytes
    val typeData = concat(
      lit("49484452"), beHex(w, 4), beHex(h, 4),
      lit("08"), beHex(colorType, 1), lit("00"), lit("00"), lit("00"))
    val png = concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), typeData,
      beHex(crc32(unhex(typeData)), 4))
    df.withColumn("content", unhex(png))
      .withColumn("meta", struct(
        lit("image/png").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }

  /** Deterministic complete GIF89a per row: 16-bit LE canvas dims
    * (width=id%321+1, height=id%214+1 — exercising both descriptor
    * bytes), a packed byte with the global color table present at
    * 2^(id%8+1) entries (color resolution 8), background index id%2
    * (always within the smallest table), the table bytes from the
    * text's md5 stream, and the 0x3B trailer — a well-formed no-frame
    * GIF. */
  def synthGif(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = (col(idCol) % 321 + 1).cast(LongType)
    val h = (col(idCol) % 214 + 1).cast(LongType)
    val gctBits = (col(idCol) % 8).cast(LongType)
    val packed = lit(0xF0L) + gctBits
    val gctBytes = call_function("shiftleft", lit(2L), gctBits.cast(IntegerType)) * 3
    // max GCT = 256 entries * 3 = 768 bytes = 1536 hex chars = 48 reps
    val gctHex = repeat(md5(coalesce(col(textCol), lit(""))), 48)
      .substr(lit(1), (gctBytes * 2).cast(IntegerType))
    val gif = concat(
      lit("474946383961"), leHex(w, 2), leHex(h, 2), leHex(packed, 1),
      leHex(col(idCol) % 2, 1), lit("00"), gctHex, lit("3B"))
    df.withColumn("content", unhex(gif))
      .withColumn("meta", struct(
        lit("image/gif").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }

  /** Deterministic baseline JFIF JPEG per row whose SOF0 sits at an
    * ID-DEPENDENT offset: SOI, a fixed 16-byte APP0, a COM segment of
    * id%37+1 payload bytes (md5 stream) — the variable-length segment
    * the scanner must actually SKIP, not just step over fixed offsets —
    * then SOF0 with height=id%501+1, width=id%333+1 (both descriptor
    * bytes exercised), 3 components, a minimal SOS and EOI. A decoder
    * that only reads fixed offsets cannot pass the corpus roundtrip. */
  def synthJpeg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = (col(idCol) % 501 + 1).cast(LongType)
    val w = (col(idCol) % 333 + 1).cast(LongType)
    val comPayload = (col(idCol) % 37 + 1).cast(LongType)
    // max payload 37 bytes = 74 hex chars -> 3 md5 reps (96)
    val comHex = repeat(md5(coalesce(col(textCol), lit(""))), 3)
      .substr(lit(1), (comPayload * 2).cast(IntegerType))
    val jpeg = concat(
      lit("FFD8"),
      lit("FFE0" + "0010" + "4A46494600" + "0101" + "00" +
        "0001" + "0001" + "00" + "00"),
      lit("FFFE"), beHex(comPayload + 2, 2), comHex,
      lit("FFC0" + "0011" + "08"), beHex(h, 2), beHex(w, 2),
      lit("03" + "012200" + "021101" + "031101"),
      lit("FFDA" + "000C" + "03" + "010002110311" + "003F00"),
      lit("00000000"), lit("FFD9"))
    df.withColumn("content", unhex(jpeg))
      .withColumn("meta", struct(
        lit("image/jpeg").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }

  /** Deterministic canonical PCM WAV per row (16-bit; channels and
    * sample rate derived from the id, data bytes from the text's md5
    * stream) — the audio twin of [[synthBmp]]. channels = id%2+1,
    * rate ∈ {8000, 16000, 44100} by id%3, samples-per-channel =
    * id%200+1. */
  def synthWav(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val channels = (col(idCol) % 2 + 1).cast(LongType)
    val rate = when(col(idCol) % 3 === 0, 8000L)
      .when(col(idCol) % 3 === 1, 16000L).otherwise(44100L)
    val blockAlign = channels * 2 // 16-bit PCM
    val byteRate = rate * blockAlign
    val nSamples = (col(idCol) % 200 + 1).cast(LongType)
    val dataSize = nSamples * blockAlign
    // max dataSize = 200*4 = 800 bytes = 1600 hex chars = 50 md5 reps
    val dataHex = repeat(md5(coalesce(col(textCol), lit(""))), 50)
      .substr(lit(1), (dataSize * 2).cast(IntegerType))
    val headerHex = concat(
      lit("52494646"), leHex(dataSize + 36, 4), lit("57415645"),
      lit("666D7420"), leHex(lit(16), 4), leHex(lit(1), 2),
      leHex(channels, 2), leHex(rate, 4), leHex(byteRate, 4),
      leHex(blockAlign, 2), leHex(lit(16), 2),
      lit("64617461"), leHex(dataSize, 4))
    df.withColumn("content", unhex(concat(headerHex, dataHex)))
      .withColumn("meta", struct(
        lit("audio/wav").as("mime"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")))
  }

  /** STUB decoder — since r16 the UNSUPPORTED-FORMAT FALLBACK (BMP,
    * PCM WAV, PNG and GIF headers decode for real above; compressed
    * codecs are excluded by the sandbox build): where a real pipeline would decode media and
    * extract features (via a partition-parallel batch UDF), this produces a
    * deterministic `dims`-dim pseudo-feature row from the content's sha-256
    * digest. Scalar `feature_i` columns (not an array) so downstream
    * tooling — including a pandas comparator — can sort/hash the output.
    * The partitioning shape is the real one; only the math inside is fake.
    * Replace the body per modality in production.
    *
    * feature_i = (ascii-sum of hex digest chars [i*stride, (i+1)*stride))
    *             mod 1000 / 1000 — chosen because every term is a plain
    * SQL builtin, so an external engine can recompute it for verification. */
  def stubDecodeFeatures(df: DataFrame, dims: Int = 8): DataFrame = {
    require(64 % dims == 0, s"dims must divide 64, got $dims")
    val stride = 64 / dims
    val withSha = df.withColumn("_sha_hex", sha2(col("content"), 256))
    val feats = (0 until dims).map { i =>
      val asciiSum = (1 to stride)
        .map(j => ascii(substring(col("_sha_hex"), i * stride + j, 1)))
        .reduce(_ + _)
      round((asciiSum % 1000).cast(DoubleType) / 1000.0, 6).as(s"feature_$i")
    }
    withSha.select(col("*") +: feats: _*).drop("_sha_hex")
  }

  /** Frame sampling over an opaque binary payload: fixed `frameBytes`-size
    * frames (a partial tail frame counts), keep every `every`-th, emit one
    * row per kept frame with its md5 — the shape a video frame-sampler
    * produces (frame index + decoded-frame fingerprint), with byte-slice
    * plumbing standing in for the codec. Pure expressions: slicing,
    * filtering and hashing all happen in the scan stage, rows explode only
    * for KEPT frames. On ASCII payloads the digests equal char-space
    * digests, which is what lets an external engine verify the output
    * (q_multimodal_frames). */
  def sampleFrames(df: DataFrame, frameBytes: Int, every: Int,
      contentCol: String = "content", idCol: String = "doc_id"): DataFrame = {
    require(frameBytes > 0 && every > 0)
    val nFrames = ceil(length(col(contentCol)).cast(DoubleType) / frameBytes)
      .cast(IntegerType)
    val kept = filter(
      sequence(lit(0), greatest(nFrames - 1, lit(0))),
      i => i % every === 0)
    df.select(col(idCol), explode(transform(kept, i => struct(
        i.cast(LongType).as("frame_idx"),
        md5(substr(col(contentCol), i * frameBytes + 1, lit(frameBytes)))
          .as("frame_md5")))).as("f"))
      .select(col(idCol), col("f.frame_idx").as("frame_idx"),
        col("f.frame_md5").as("frame_md5"))
  }
}
