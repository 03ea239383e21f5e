package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Events
import graft.multimodal.Multimodal
import QuerySupport._

/** Sources and sinks (CSV, ORC, Avro, JSONL, Hive-partitioned and
  * bucketed layouts) and the multimodal byte-level decoders. */
object SourceQueries {

  /** Media rows for the container decoders: docs whose id is not a
    * multiple of `rawEvery` become a synthesized container, the rest stay
    * raw octet-stream text to exercise the decoder's non-matching path. */
  private def plantedMedia(s: SparkSession, dir: String, rawEvery: Int)(
      synth: DataFrame => DataFrame): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val planted = synth(docs.where(col("doc_id") % rawEvery =!= 0))
    val raw = Multimodal.asMedia(
      docs.where(col("doc_id") % rawEvery === 0), "text")
    planted.select("doc_id", "content", "meta")
      .unionAll(raw.select("doc_id", "content", "meta"))
  }

  val all: Seq[Query] = Seq(

    // S1/S2 CSV sink + source + reference-rule inference, value-checked:
    // write customer columns to CSV, read back as strings, let the
    // TypeConvert auto-detector restore long/double/string — the result
    // must equal the parquet original exactly (Java's Double.toString
    // emits the shortest parse-exact decimal, and these values stay in
    // plain notation).
    Query("q_csv_roundtrip", (s, dir) => {
      val path = roundtripPath("csv", dir)
      val c = tbl(s, dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      graft.sources.Csv.write(c, path)
      graft.sources.Csv.readInferred(s, path).orderBy("c_custkey")
    },
      // the CSV round-trip must reproduce the parquet original exactly
      sql("""SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
            |ORDER BY c_custkey""".stripMargin)),

    // ORC roundtrip (the warehouse interchange format): write typed
    // columns — long, string, double, timestamp — to ORC, read back,
    // values must equal the parquet original exactly (native typed
    // round-trip, no re-inference)
    Query("q_orc_roundtrip", (s, dir) => {
      val path = roundtripPath("orc", dir)
      val o = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      graft.sources.Orc.write(o, path)
      graft.sources.Orc.read(s, path).orderBy("o_orderkey")
    },
      // the ORC round-trip must reproduce the parquet original exactly
      sql("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
            |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Avro roundtrip (the Kafka/stream interchange format): write typed
    // event columns — long, timestamp(-micros), string, double — to
    // Avro, read back, values must equal the parquet original exactly.
    // ts emitted as epoch micros so the compare is integer-exact.
    Query("q_avro_roundtrip", (s, dir) => {
      val path = roundtripPath("avro", dir)
      val e = Events.load(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.sources.Avro.write(e, path)
      graft.sources.Avro.read(s, path)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
      // the Avro round-trip must reproduce the parquet original exactly
      // (timestamp-micros logical type: integer-exact micros)
      sql("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
            |FROM events ORDER BY event_id""".stripMargin)),

    // Hive-partitioned roundtrip + PRUNED read: write documents
    // partitioned by lang (bounded at 2 files per lang via the routing
    // shuffle), read back only lang='en' — the filter must prune at the
    // directory level (PartitionedSpec pins PartitionFilters + the
    // files-read set; this row pins the VALUES surviving the layout).
    Query("q_partitioned_roundtrip", (s, dir) => {
      val path = roundtripPath("part", dir)
      graft.sources.Partitioned.write(tbl(s, dir, "documents"), path,
        partitionCols = Seq("lang"), filesPerPartition = 2,
        bucketBy = Seq("doc_id"))
      graft.sources.Partitioned.read(s, path)
        .where(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // the partitioned write+pruned read must reproduce the source slice
      // exactly (lang rides in directory names, read back as string)
      sql("""SELECT doc_id, text, lang, source, n_chars FROM documents
            |WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    // JSONL roundtrip (the LLM-corpus interchange format): write the
    // documents table as JSON Lines, read it back, values must survive
    Query("q_jsonl_roundtrip", (s, dir) => {
      val path = roundtripPath("jsonl", dir)
      graft.sources.Jsonl.write(tbl(s, dir, "documents"), path)
      graft.sources.Jsonl.read(s, path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      // roundtrip fidelity: the JSONL write+read must reproduce the source
      sql("""SELECT doc_id, text, lang, source, n_chars FROM documents
            |ORDER BY doc_id""".stripMargin)),

    // bucketed-table layout + co-located join (r17): both fact tables
    // written bucketed on the join key (8 buckets, in-bucket sorted),
    // then joined with ZERO Exchange — the ingest-once/join-free-forever
    // layout lever. BucketedSpec pins the no-Exchange plan; here the
    // result must also be VALUE-correct against a plain join oracle.
    Query("q_bucketed_join", (s, dir) => {
      // largest scratch any query writes (~1 GB bucketed lineitem at
      // sf10) — the startup sweepDeadScratch is what keeps repeated
      // bench/verify invocations from accumulating copies until /tmp
      // fills (the r17 disk-full lesson)
      val base = roundtripPath("bucketed", dir)
      graft.sources.Bucketed.writeTable(
        tbl(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_orders_bkt", base + "_orders", 8, "o_orderkey")
      graft.sources.Bucketed.writeTable(
        tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_lineitem_bkt", base + "_lineitem", 8, "l_orderkey")
      graft.sources.Bucketed.colocatedJoin(s,
        "graft_orders_bkt", "graft_lineitem_bkt",
        "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(moneyRevenue).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
      // the bucketed layout must not change a single value: plain join
      // ground truth, same decimal-exact revenue as q_join_agg (money
      // aggregates are decimal-exact by policy — see moneyRevenue)
      sql(s"""SELECT o_orderpriority,
            |  sum($moneyRevenueSql) AS revenue,
            |  CAST(count(*) AS BIGINT) AS n_items
            |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // multimodal: binary content + byte-level features (decode is stubbed)
    Query("q_multimodal", (s, dir) =>
      Multimodal.byteFeatures(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"))
        .select("doc_id", "byte_len", "content_sha").orderBy("doc_id"),
      sql("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
            | sha256(text) AS content_sha
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // multimodal stub feature extraction (deterministic fake decoder;
    // scalar feature_i columns so the output is sortable/hashable)
    Query("q_multimodal_features", (s, dir) => {
      val out = Multimodal.stubDecodeFeatures(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"))
      out.select(("doc_id" +: (0 until 8).map(i => s"feature_$i")).map(col): _*)
        .orderBy("doc_id")
    },
      // DuckDB twin of Multimodal.stubDecodeFeatures: same ascii-sum-of-
      // sha256-hex math, so the "fake decode" is value-level verified.
      sql {
        val feats = (0 until 8).map { i =>
          val s = (1 to 8).map(j => s"ascii(substr(h, ${i * 8 + j}, 1))")
            .mkString(" + ")
          s"round((($s) % 1000) / 1000.0, 6) AS feature_$i"
        }.mkString(",\n ")
        s"""WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents)
           |SELECT doc_id,
           | $feats
           |FROM t ORDER BY doc_id""".stripMargin
      }),

    // multimodal frame sampling: 64-byte frames, every 4th kept, one row
    // per kept frame with its digest. The corpus payload is ASCII
    // (verified), so byte-space digests equal the oracle's char-space
    // recompute.
    Query("q_multimodal_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.asMedia(
        tbl(s, dir, "documents"), "text"), frameBytes = 64, every = 4)
        .orderBy("doc_id", "frame_idx"),
      // char-space recompute of the byte-frame sampler — equal because the
      // payload is ASCII (md5 hashes UTF-8 bytes in both engines)
      sql("""WITH m AS (SELECT doc_id, text,
            |  greatest(CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 0) AS maxf
            |  FROM documents),
            |f AS (SELECT doc_id, text, unnest(range(0, maxf + 1)) AS i FROM m)
            |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
            |  md5(substring(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
            |FROM f WHERE i % 4 = 0
            |ORDER BY doc_id, frame_idx""".stripMargin)),

    // REAL multimodal decode (r16): well-formed 24bpp BMPs synthesized
    // per row (dims from doc_id, pixels from the text's md5 stream),
    // header fields decoded back with pure byte-math expressions —
    // every 7th doc stays raw octet-stream media to exercise the
    // non-BMP null/fallback path. The oracle recomputes the embedded
    // dims from the same id arithmetic, so any endianness/offset slip
    // in EITHER the synthesizer or the decoder breaks the hash; a
    // hand-written golden BMP in MultimodalDecodeSpec rules out a
    // mirrored encode/decode error.
    Query("q_multimodal_decode", (s, dir) => {
      val media = plantedMedia(s, dir, rawEvery = 7)(
        Multimodal.synthBmp(_, "doc_id", "text"))
      Multimodal.decodeBmpMeta(media)
        .select(col("doc_id"), col("is_bmp"),
          col("bmp_width").as("width"), col("bmp_height").as("height"),
          col("bmp_bpp").as("bpp"), col("bmp_file_size").as("file_size"),
          col("bmp_data_offset").as("data_offset"),
          col("bmp_compression").as("compression"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      // DuckDB twin of synthBmp→decodeBmpMeta: the decoded header fields
      // must equal the values the synthesizer embedded, recomputed from
      // the same doc_id arithmetic (width=id%21+1, height=id%13+1, rows
      // padded to 4 bytes, 54-byte header)
      sql("""SELECT doc_id,
            | doc_id % 7 <> 0 AS is_bmp,
            | CASE WHEN doc_id % 7 <> 0 THEN doc_id % 21 + 1 END AS width,
            | CASE WHEN doc_id % 7 <> 0 THEN doc_id % 13 + 1 END AS height,
            | CASE WHEN doc_id % 7 <> 0 THEN 24 END AS bpp,
            | CASE WHEN doc_id % 7 <> 0 THEN
            |   (((doc_id % 21 + 1) * 3 + 3) // 4) * 4 * (doc_id % 13 + 1) + 54
            | END AS file_size,
            | CASE WHEN doc_id % 7 <> 0 THEN 54 END AS data_offset,
            | CASE WHEN doc_id % 7 <> 0 THEN 0 END AS compression,
            | CASE WHEN doc_id % 7 <> 0 THEN 'image/bmp'
            |      ELSE 'application/octet-stream' END AS mime
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // the audio twin: canonical PCM WAV headers (channels/rate from
    // doc_id, samples from the md5 stream) decoded back with byte math;
    // every 5th doc stays raw. duration is integer-derived from the
    // header's byte_rate — exactly what a real ingest computes.
    Query("q_multimodal_wav", (s, dir) => {
      val media = plantedMedia(s, dir, rawEvery = 5)(
        Multimodal.synthWav(_, "doc_id", "text"))
      Multimodal.decodeWavMeta(media)
        .select(col("doc_id"), col("is_wav"),
          col("wav_channels").as("channels"),
          col("wav_sample_rate").as("sample_rate"),
          col("wav_bits").as("bits"),
          col("wav_data_bytes").as("data_bytes"),
          col("wav_n_samples").as("n_samples"),
          col("wav_duration_ms").as("duration_ms"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      // DuckDB twin of synthWav→decodeWavMeta (16-bit PCM: block = 2ch,
      // byte_rate = rate*block, duration from integer header math)
      sql("""SELECT doc_id,
            | doc_id % 5 <> 0 AS is_wav,
            | CASE WHEN doc_id % 5 <> 0 THEN doc_id % 2 + 1 END AS channels,
            | CASE WHEN doc_id % 5 <> 0 THEN
            |   CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            |        ELSE 44100 END
            | END AS sample_rate,
            | CASE WHEN doc_id % 5 <> 0 THEN 16 END AS bits,
            | CASE WHEN doc_id % 5 <> 0 THEN
            |   (doc_id % 200 + 1) * (doc_id % 2 + 1) * 2 END AS data_bytes,
            | CASE WHEN doc_id % 5 <> 0 THEN doc_id % 200 + 1 END AS n_samples,
            | CASE WHEN doc_id % 5 <> 0 THEN
            |   CAST(floor((doc_id % 200 + 1) * 1000.0 /
            |     CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            |          ELSE 44100 END) AS BIGINT)
            | END AS duration_ms,
            | CASE WHEN doc_id % 5 <> 0 THEN 'audio/wav'
            |      ELSE 'application/octet-stream' END AS mime
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // the big-endian container (r17): PNG signature + IHDR synthesized
    // per doc (real CRC32), decoded back with the beUint byte-math twin;
    // every 6th doc stays raw octet-stream to exercise the non-PNG path.
    // Raw docs can never sniff as PNG — the signature's first byte is
    // 0x89, outside any text encoding the corpus uses.
    Query("q_multimodal_png", (s, dir) => {
      val media = plantedMedia(s, dir, rawEvery = 6)(
        Multimodal.synthPng(_, "doc_id"))
      Multimodal.decodePngMeta(media)
        .select(col("doc_id"), col("is_png"),
          col("png_width").as("width"), col("png_height").as("height"),
          col("png_bit_depth").as("bit_depth"),
          col("png_color_type").as("color_type"),
          col("png_interlace").as("interlace"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      // DuckDB twin of synthPng→decodePngMeta: decoded IHDR fields equal
      // the synthesizer's id arithmetic (the CRC is not re-derived — the
      // decoder reads fixed offsets, and a CRC slip cannot move them)
      sql("""SELECT doc_id,
            | doc_id % 6 <> 0 AS is_png,
            | CASE WHEN doc_id % 6 <> 0 THEN doc_id % 21 + 1 END AS width,
            | CASE WHEN doc_id % 6 <> 0 THEN doc_id % 13 + 1 END AS height,
            | CASE WHEN doc_id % 6 <> 0 THEN 8 END AS bit_depth,
            | CASE WHEN doc_id % 6 <> 0 THEN
            |   CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END
            | END AS color_type,
            | CASE WHEN doc_id % 6 <> 0 THEN 0 END AS interlace,
            | CASE WHEN doc_id % 6 <> 0 THEN 'image/png'
            |      ELSE 'application/octet-stream' END AS mime
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // JPEG frame header (r17): baseline JFIF streams whose SOF0 sits at
    // an id-dependent offset (a COM segment of id%37+1 bytes precedes
    // it), decoded by the graft_jpeg_sof codegen marker-scan kernel —
    // the one container whose dims fixed-offset byte math cannot reach;
    // every 9th doc stays raw (text can never start with 0xFFD8).
    Query("q_multimodal_jpeg", (s, dir) => {
      val media = plantedMedia(s, dir, rawEvery = 9)(
        Multimodal.synthJpeg(_, "doc_id", "text"))
      Multimodal.decodeJpegMeta(media)
        .select(col("doc_id"), col("is_jpeg"),
          col("jpeg_width").as("width"), col("jpeg_height").as("height"),
          col("jpeg_precision").as("precision"),
          col("jpeg_ncomp").as("ncomp"),
          col("jpeg_progressive").as("progressive"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      // DuckDB twin of synthJpeg→decodeJpegMeta: the marker scan's SOF
      // fields equal the synthesizer's id arithmetic regardless of the
      // id-dependent COM length the scanner had to skip
      sql("""SELECT doc_id,
            | doc_id % 9 <> 0 AS is_jpeg,
            | CASE WHEN doc_id % 9 <> 0 THEN doc_id % 333 + 1 END AS width,
            | CASE WHEN doc_id % 9 <> 0 THEN doc_id % 501 + 1 END AS height,
            | CASE WHEN doc_id % 9 <> 0 THEN 8 END AS precision,
            | CASE WHEN doc_id % 9 <> 0 THEN 3 END AS ncomp,
            | CASE WHEN doc_id % 9 <> 0 THEN FALSE END AS progressive,
            | CASE WHEN doc_id % 9 <> 0 THEN 'image/jpeg'
            |      ELSE 'application/octet-stream' END AS mime
            |FROM documents ORDER BY doc_id""".stripMargin)),

    // GIF logical-screen descriptor (r17): complete no-frame GIF89a per
    // doc (LE dims, global color table sized 2^(id%8+1) from the md5
    // stream, trailer), decoded back with byte math; every 4th doc
    // stays raw. MediaSniffSpec pins that no raw doc text begins with
    // "GIF87a"/"GIF89a" (the one ASCII magic in the family).
    Query("q_multimodal_gif", (s, dir) => {
      val media = plantedMedia(s, dir, rawEvery = 4)(
        Multimodal.synthGif(_, "doc_id", "text"))
      Multimodal.decodeGifMeta(media)
        .select(col("doc_id"), col("is_gif"),
          col("gif_width").as("width"), col("gif_height").as("height"),
          col("gif_has_gct").as("has_gct"),
          col("gif_gct_size").as("gct_size"),
          col("gif_bg_index").as("bg_index"),
          col("meta.mime").as("mime"))
        .orderBy("doc_id")
    },
      // DuckDB twin of synthGif→decodeGifMeta (LE 16-bit dims, packed
      // byte 0xF0 | id%8 => GCT present with 2^(id%8+1) entries)
      sql("""SELECT doc_id,
            | doc_id % 4 <> 0 AS is_gif,
            | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 321 + 1 END AS width,
            | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 214 + 1 END AS height,
            | CASE WHEN doc_id % 4 <> 0 THEN TRUE END AS has_gct,
            | CASE WHEN doc_id % 4 <> 0 THEN (2 << (doc_id % 8)) END AS gct_size,
            | CASE WHEN doc_id % 4 <> 0 THEN doc_id % 2 END AS bg_index,
            | CASE WHEN doc_id % 4 <> 0 THEN 'image/gif'
            |      ELSE 'application/octet-stream' END AS mime
            |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
