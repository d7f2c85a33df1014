package graft.operators

import graft.GraftOp
import graft.functions.Exprs
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.US_ASCII

/** The byte kernel every container walker and builder in [[MmOps]]
  * goes through: one decision, in one place, about how a blob is read
  * and what "malformed" means.
  *
  * Reads are bounds-checked and unsigned. Offsets are `Long`, `u16` is
  * an `Int` in [0, 65535] and `u32` a `Long` in [0, 2^32), so a size
  * field is never negative and `offset + size` never wraps. A read
  * that does not lie wholly inside the blob, or a failed [[need]],
  * raises the kernel's private malformed signal; [[walk]] maps that
  * signal, and only that signal, to `None`. So a walker returns `None`
  * on any malformed input and never throws or loops: each walker loop
  * either steps by an unsigned size plus a positive header length or
  * counts to a bound read from the blob. */
private[graft] object Bytes {

  private object Malformed extends RuntimeException with scala.util.control.NoStackTrace

  /** Raise the malformed signal (the walker's `None`). */
  def malformed: Nothing = throw Malformed

  /** A structural check: false means the blob is malformed. */
  def need(ok: Boolean): Unit = if (!ok) throw Malformed

  /** Run a walker body over `bytes`: `None` when any read or check
    * inside it finds the blob malformed, else the body's own result. */
  def walk[T](bytes: Array[Byte])(body: Reader => Option[T]): Option[T] =
    try body(new Reader(bytes)) catch { case Malformed => None }

  /** RIFF/IFF chunks are word-aligned: an odd payload is followed by one
    * pad byte. */
  def even(n: Long): Long = n + (n & 1)

  /** Reads at absolute `Long` offsets of one blob. Every read is
    * bounds-checked (outside the blob = malformed) and unsigned: `u8`
    * and `u16*` give an `Int` ≥ 0, `u32*` a `Long` ≥ 0, so sizes added
    * to offsets only ever move forward. */
  final class Reader private[Bytes] (bytes: Array[Byte]) {
    def length: Int = bytes.length

    /** The index of `off` when [off, off + n) lies inside the blob. */
    def at(off: Long, n: Long = 1): Int = {
      need(off >= 0 && n >= 0 && off + n <= bytes.length)
      off.toInt
    }

    def u8(off: Long): Int = bytes(at(off)) & 0xff
    def u16le(off: Long): Int = { val i = at(off, 2); (bytes(i) & 0xff) | (bytes(i + 1) & 0xff) << 8 }
    def u16be(off: Long): Int = { val i = at(off, 2); (bytes(i) & 0xff) << 8 | (bytes(i + 1) & 0xff) }
    def u32le(off: Long): Long = u16le(off) | u16le(off + 2).toLong << 16
    def u32be(off: Long): Long = u16be(off).toLong << 16 | u16be(off + 2)
    /** Byte order chosen by the data (TIFF's II/MM). */
    def u16(off: Long, le: Boolean): Int = if (le) u16le(off) else u16be(off)
    def u32(off: Long, le: Boolean): Long = if (le) u32le(off) else u32be(off)
    /** The raw 64 bits (a `Long` cannot hold them unsigned). */
    def u64le(off: Long): Long = u32le(off) | u32le(off + 4) << 32
    def u64be(off: Long): Long = u32be(off) << 32 | u32be(off + 4)
    def ascii(off: Long, n: Int): String = new String(bytes, at(off, n), n, US_ASCII)
    def fourcc(off: Long): String = ascii(off, 4)
  }

  /** Sequential blob builder, the writer twin of [[Reader]]: each put
    * writes the low 8/16/32/64 bits of its argument in the named byte
    * order, so a size written here reads back unsigned and unchanged. */
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def size: Int = out.size()
    def u8(v: Int): Writer = { out.write(v); this }
    def u16le(v: Int): Writer = u8(v).u8(v >> 8)
    def u16be(v: Int): Writer = u8(v >> 8).u8(v)
    def u32le(v: Long): Writer = u16le(v.toInt).u16le((v >> 16).toInt)
    def u32be(v: Long): Writer = u16be((v >> 16).toInt).u16be(v.toInt)
    def u64le(v: Long): Writer = u32le(v).u32le(v >> 32)
    def u64be(v: Long): Writer = u32be(v >> 32).u32be(v)
    def u16(v: Int, le: Boolean): Writer = if (le) u16le(v) else u16be(v)
    def u32(v: Long, le: Boolean): Writer = if (le) u32le(v) else u32be(v)
    def bytes(b: Array[Byte]): Writer = { out.write(b); this }
    def zeros(n: Int): Writer = bytes(new Array[Byte](n))
    def ascii(s: String): Writer = bytes(s.getBytes(US_ASCII))
    /** `s` NUL-padded to a fixed-width field. */
    def field(s: String, width: Int): Writer = {
      require(s.length <= width, s"'$s' overflows a $width-byte field")
      ascii(s).zeros(width - s.length)
    }
    /** The pad byte after an odd payload of `n` bytes ([[even]]). */
    def pad(n: Long): Writer = if (n % 2 == 1) u8(0) else this
    /** One RIFF chunk: fourcc, LE size, payload, pad. */
    def chunk(id: String, payload: Array[Byte]): Writer =
      ascii(id).u32le(payload.length).bytes(payload).pad(payload.length)
    def toArray: Array[Byte] = out.toByteArray
  }
}

/** Multimodal-column plumbing (SURVEY.md §2g).
  *
  * Media are opaque `binary` columns with typed metadata. IMAGE decode
  * is REAL — the pure-JVM `javax.imageio` PNG/JPEG codecs run inside
  * the partition-wise kernel (planted PNGs exercise the round trip) —
  * while formats this container has no codec for (audio/video) fall
  * back to a clearly-marked deterministic STUB lane, with the Spark
  * side (schema, binary batching, mapPartitions decode, output shape)
  * identical for both.
  *
  * The container legs (WAV, MP4, JPEG, PNG, GIF, BMP, tar, zip, PDF,
  * MP3, ID3, FLAC, Exif, WebP, Ogg, AVI, ICO, AIFF, SRT) share one
  * contract: a deterministic blob per doc_id from the leg's builder, a
  * strict walker that returns `None` on any malformed input and never
  * throws or loops (the binary ones read through [[Bytes.walk]]),
  * build+walk fused in one mapPartitions, and an oracle that replays
  * the emitted metadata analytically from the id rule.
  */
object MmOps {

  // javax.imageio defaults to a DISK-backed stream cache: every
  // ImageIO.read/write round-trips a temp FILE, so a per-row codec
  // kernel pays an fsync'd create/delete per image — with 32 threads
  // that is tmp-dir contention, not decoding. Blobs here are small
  // in-memory byte arrays; the memory cache is strictly better. Class
  // init runs wherever the kernel lambdas first call into this object
  // (driver and every executor JVM alike).
  javax.imageio.ImageIO.setUseCache(false)

  import Bytes._

  /** The one build → walk → Row runner: `f` maps each source row to a
    * row of the `ddl` schema inside mapPartitions, so a blob is built
    * and walked in the task that reads its document and never crosses
    * a shuffle. The walkers it calls read through [[Bytes.walk]]
    * (bounds-checked, unsigned sizes), so malformed bytes come back as
    * `None`; on a planted blob that is a bug, and [[planted]] fails the
    * query. */
  private def rowsOf(src: DataFrame, ddl: String)(f: Row => Row): DataFrame =
    src.mapPartitions(_.map(f))(RowEncoder.encoderFor(StructType.fromDDL(ddl)))

  /** [[rowsOf]] in doc_id order: the shape of every per-document op. */
  private def plantedWalk(src: DataFrame, ddl: String)(f: Row => Row): DataFrame =
    rowsOf(src, ddl)(f).orderBy(col("doc_id"))

  /** A planted blob comes from this object's own builder, so a walker
    * that rejects it is a bug, not data: the query fails. */
  private def planted[T](what: String, docId: Long)(parsed: Option[T]): T =
    parsed.getOrElse(throw new IllegalStateException(s"unwalkable planted $what for doc $docId"))

  /** Binary ingest + metadata: text bytes stand in for media blobs. */
  val meta: GraftOp = GraftOp(
    "mm_meta",
    s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |  64 + ${Exprs.sqlMd5Long("text")} % 512 AS width,
       |  64 + (${Exprs.sqlMd5Long("text")} >> 9) % 512 AS height,
       |  1 + ${Exprs.sqlMd5Long("text")} % 3 AS channels
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        (lit(64) + h % 512).as("width"),
        (lit(64) + shiftright(h, 9) % 512).as("height"),
        (lit(1) + h % 3).as("channels"))
      .orderBy(col("doc_id"))
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte

  /** REAL image decode via the pure-JVM `javax.imageio` codecs:
    * PNG/JPEG blobs decode to their actual raster (width, height,
    * band count, mean sample value across all bands); anything the
    * codec can't handle falls back to [[stubKernel]] — the quarantine
    * lane of a production decode stage. */
  private[graft] def decodeKernel(bytes: Array[Byte]): (Int, Int, Int, Double) = {
    if (isPng(bytes) || isJpeg(bytes)) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img != null) {
        val raster = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        return (w, h, bands, sum.toDouble / (w.toLong * h * bands))
      }
    }
    stubKernel(bytes)
  }

  /** Deterministic STUB kernel for non-image blobs — the documented
    * placeholder for codecs this container lacks (audio/video):
    * dimensions/luma derive from the bytes, so the pipeline shape
    * (schema, batching, partitioning) is exercised end-to-end. */
  private[graft] def stubKernel(bytes: Array[Byte]): (Int, Int, Int, Double) = {
    var h = 1125899906842597L
    var lumaSum = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + bytes(i); lumaSum += (bytes(i) & 0xFF); i += 1 }
    val width = 64 + (math.floorMod(h, 512L)).toInt
    val height = 64 + (math.floorMod(h >>> 9, 512L)).toInt
    val channels = 1 + math.floorMod(h, 3L).toInt
    (width, height, channels,
      if (bytes.length == 0) 0.0 else lumaSum.toDouble / bytes.length)
  }

  /** Deterministic tiny RGB PNG for `docId` — written by the REAL
    * `javax.imageio` PNG encoder over an integer pixel pattern, so the
    * decode path upstream exercises a real codec round-trip (PNG is
    * lossless: decoded samples equal the pattern exactly). */
  private[graft] def syntheticPng(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 16).toInt
    val h = 8 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((docId * 17 + x * 3 + y * 29) % 256).toInt
        val b = ((docId * 43 + x * 19 + y * 5) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Media decode over binary batches — partition-wise imperative
    * decode via `mapPartitions` (where a codec genuinely belongs; the
    * kernel never crosses a shuffle). Every 50th document carries a
    * REAL planted PNG and decodes through `javax.imageio`; the rest
    * are text bytes and take the deterministic stub lane — the
    * route-by-container-format shape of a production multimodal
    * ingest (cf. mm_sniff). */
  def decodePipeline(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    rowsOf(blobs,
        "doc_id BIGINT, n_bytes INT, width INT, height INT, channels INT, mean_luma DOUBLE") { r =>
      val docId = r.getLong(0)
      val bytes =
        if (docId % 50 == 0) syntheticPng(docId) else r.getAs[Array[Byte]](1)
      val (w, h, channels, luma) = decodeKernel(bytes)
      Row(docId, bytes.length, w, h, channels, luma)
    }
  }

  /** Queries-map entry for the decode pipeline — ORACLE-CHECKED on the
    * planted-PNG lane (r15): PNG is lossless, so the raster stats the
    * REAL `javax.imageio` decode produces equal the pixel-generating
    * formula exactly, and the oracle computes that formula
    * arithmetically (per-pixel sum over unnest(range(w))×range(h)).
    * The full pipeline still decodes EVERY doc (the filter sits above
    * the opaque mapPartitions, so the stub/quarantine lane's routing
    * runs too — it stays spec-covered: wrapping-hash stub dims aren't
    * SQL-expressible, and the planted n_bytes is zlib-encoder-specific
    * so the emit drops it in favor of the decoded raster columns). */
  val decode: GraftOp = GraftOp(
    "mm_decode",
    """WITH planted AS (SELECT doc_id FROM documents WHERE doc_id % 50 = 0),
      |d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS width,
      |        CAST(8 + (doc_id // 16) % 16 AS INT) AS height FROM planted),
      |px AS (
      |  SELECT d.doc_id, d.width, d.height,
      |    sum((d.doc_id * 31 + x.i * 7 + y.j * 13) % 256
      |      + (d.doc_id * 17 + x.i * 3 + y.j * 29) % 256
      |      + (d.doc_id * 43 + x.i * 19 + y.j * 5) % 256) AS s
      |  FROM d, unnest(range(CAST(d.width AS BIGINT))) AS x(i),
      |          unnest(range(CAST(d.height AS BIGINT))) AS y(j)
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
      |  CAST(s AS DOUBLE) / (width * CAST(height AS BIGINT) * 3) AS mean_luma
      |FROM px ORDER BY doc_id""".stripMargin) { (s, d) =>
    decodePipeline(s, d)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("width"), col("height"), col("channels"), col("mean_luma"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size blob chunking — the frame-sample / shard step before a
    * per-chunk decoder or embedder: one blob row → N chunk rows with
    * (chunk_id, offset, chunk bytes). Pure expressions (sequence +
    * posexplode + binary substring), so chunking stays in codegen and
    * the expensive kernel only ever sees bounded-size chunks. */
  val chunk: GraftOp = GraftOp(
    "mm_chunk",
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS total FROM documents WHERE doc_id < 100)
      |SELECT doc_id, CAST(n AS INT) AS chunk_id,
      |  CAST(n * 256 + 1 AS BIGINT) AS byte_offset,
      |  CAST(least(256, total - n * 256) AS INT) AS chunk_bytes
      |FROM b, unnest(range(0, CAST(ceil(total / 256.0) AS BIGINT))) AS t(n)
      |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    val chunkSize = 256
    Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"),
        ceil(octet_length(encode(col("text"), "UTF-8")) / chunkSize.toDouble)
          .cast(IntegerType).as("n_chunks"))
      // empty blob → ZERO chunk rows. sequence(0, -1) would "helpfully"
      // infer step -1 and return [0, -1]; posexplode of an empty array
      // matches the oracle's empty range(0, 0)
      .select(col("doc_id"), col("blob"),
        posexplode(when(col("n_chunks") > 0, sequence(lit(0), col("n_chunks") - 1))
          .otherwise(array().cast("array<int>"))))
      .toDF("doc_id", "blob", "chunk_id", "n")
      // the chunk bytes are REALLY extracted (binary substr) — the
      // contract emits their length; the oracle states it arithmetically
      .select(col("doc_id"), col("chunk_id"),
        (col("n").cast(LongType) * chunkSize + 1).as("byte_offset"),
        octet_length(col("blob").substr(col("n") * chunkSize + 1, lit(chunkSize)))
          .as("chunk_bytes"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Container-format sniffing over binary columns: classify each blob
    * by magic-byte prefix (PNG/JPEG/RIFF here), the first gate of any
    * media-ingest pipeline (route to the right decoder, quarantine the
    * rest). Test blobs get deterministic planted headers so the oracle
    * can replay the classification; the prefix test itself is the
    * production kernel. Pure map + one |formats|-row aggregate. */
  val sniff: GraftOp = GraftOp(
    "mm_sniff",
    """WITH b AS (
      |  SELECT doc_id,
      |    from_hex(CASE doc_id % 3 WHEN 0 THEN '89504E470D0A1A0A'
      |      WHEN 1 THEN 'FFD8FFE0' ELSE '52494646' END) || encode(text) AS blob
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, octet_length(blob) AS n_bytes,
      |    CASE WHEN hex(blob) LIKE '89504E470D0A1A0A%' THEN 'png'
      |         WHEN hex(blob) LIKE 'FFD8FF%' THEN 'jpeg'
      |         WHEN hex(blob) LIKE '52494646%' THEN 'riff'
      |         ELSE 'unknown' END AS format
      |  FROM b)
      |SELECT format, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val header = unhex(
      when(col("doc_id") % 3 === 0, "89504E470D0A1A0A")
        .when(col("doc_id") % 3 === 1, "FFD8FFE0")
        .otherwise("52494646"))
    val b = Tables.documents(s, d)
      .select(col("doc_id"), concat(header, encode(col("text"), "UTF-8")).as("blob"))
    // production kernel would substring(blob, 1, 8) before hex; DuckDB
    // lacks blob substring, so the oracle-parity form hexes the blob —
    // the classification is identical
    b.select(col("doc_id"), octet_length(col("blob")).as("n_bytes"),
        when(hex(col("blob")).startsWith("89504E470D0A1A0A"), "png")
          .when(hex(col("blob")).startsWith("FFD8FF"), "jpeg")
          .when(hex(col("blob")).startsWith("52494646"), "riff")
          .otherwise("unknown").as("format"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).cast(LongType).as("total_bytes"))
      .orderBy(col("format"))
  }

  /** Uniform frame sampling — the video-ingest plumbing that decides
    * WHICH frames a vision pipeline decodes before any codec runs
    * (sample ≤16 frames per clip, evenly spaced): per blob, synthetic
    * (n_frames, fps) metadata from the portable hash stands in for
    * container headers, stride = ⌈n_frames/16⌉, sampled index list =
    * range(0, n_frames, stride), timestamp = frame·1000 div fps.
    * All INTEGER arithmetic — the sampling plan is bit-reproducible
    * (re-ingesting a clip samples identical frames, so frame-level
    * caches/dedup stay valid). Pure map + explode, zero shuffle; the
    * emitted (frame_idx, ts_ms) rows are exactly what a decode stage
    * maps over. */
  val frameSample: GraftOp = GraftOp(
    "mm_framesample",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(8 + ${Exprs.sqlMd5Long("text")} % 120 AS BIGINT) AS n_frames,
       |    CAST(1 + (${Exprs.sqlMd5Long("text")} >> 7) % 29 AS BIGINT) AS fps
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, n_frames, fps,
       |    unnest(range(0, n_frames, (n_frames + 15) // 16)) AS frame_idx
       |  FROM m)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  frame_idx * 1000 // fps AS ts_ms
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(8) + h % 120).as("n_frames"),
        (lit(1) + shiftright(h, 7) % 29).as("fps"))
      .select(col("doc_id"), col("fps"),
        explode(sequence(lit(0L), col("n_frames") - 1,
          expr("(n_frames + 15) div 16"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr("frame_idx * 1000 div fps").as("ts_ms"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Build a canonical 44-byte PCM WAV header (RIFF little-endian)
    * for the given audio parameters — the real container format, so
    * the parser opposite is exercised against genuine bytes. */
  private[graft] def wavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * channels * (bitsPerSample / 8)
    new Writer()
      .ascii("RIFF").u32le(36 + dataLen).ascii("WAVE")
      .ascii("fmt ").u32le(16)
      .u16le(1) // PCM
      .u16le(channels).u32le(sampleRate)
      .u32le(sampleRate * channels * (bitsPerSample / 8)) // byte rate
      .u16le(channels * (bitsPerSample / 8))              // block align
      .u16le(bitsPerSample)
      .ascii("data").u32le(dataLen)
      .toArray
  }

  /** Parse a PCM WAV header: (sampleRate, channels, bits, nSamples),
    * or None when the magic bytes don't check out (quarantine lane). */
  private[graft] def parseWavHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] =
    walk(bytes) { r =>
      need(r.fourcc(0) == "RIFF" && r.fourcc(8) == "WAVE" && r.fourcc(12) == "fmt ")
      need(r.u16le(20) == 1 && r.fourcc(36) == "data") // PCM
      val (channels, bits) = (r.u16le(22), r.u16le(34))
      val frameBytes = channels * (bits / 8)
      need(frameBytes > 0) // a zero-width frame holds no samples
      Some((r.u32le(24).toInt, channels, bits, (r.u32le(40) / frameBytes).toInt))
    }

  /** Audio-container metadata — the audio twin of [[meta]]/[[sniff]]:
    * each doc carries a REAL planted PCM WAV header (hash-derived
    * parameters through the genuine RIFF byte layout) and the kernel
    * parses the little-endian container fields back; duration is
    * integer math on the parsed values. The oracle replays the hash
    * arithmetic, so the hash match proves the build→parse round trip
    * preserves every field. mapPartitions kernel (where a real audio
    * demuxer belongs), zero shuffle. */
  val wavMeta: GraftOp = GraftOp(
    "mm_wav_meta",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(8000 + (${Exprs.sqlMd5Long("text")} % 8) * 4000 AS INT) AS sample_rate,
       |    CAST(1 + (${Exprs.sqlMd5Long("text")} >> 3) % 2 AS INT) AS channels,
       |    CAST(1000 + (${Exprs.sqlMd5Long("text")} >> 4) % 9000 AS INT) AS n_samples
       |  FROM documents)
       |SELECT doc_id, sample_rate, channels, 16 AS bits, n_samples,
       |  CAST(n_samples AS BIGINT) * 1000 // sample_rate AS duration_ms
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    val params = Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(8000) + (h % 8) * 4000).cast(IntegerType).as("sample_rate"),
        (lit(1) + shiftright(h, 3) % 2).cast(IntegerType).as("channels"),
        (lit(1000) + shiftright(h, 4) % 9000).cast(IntegerType).as("n_samples"))
    plantedWalk(params, "doc_id BIGINT, sample_rate INT, channels INT, bits INT, " +
        "n_samples INT, duration_ms BIGINT") { r =>
      // REAL round trip: hash params → genuine RIFF bytes → parse
      val header = wavHeader(r.getInt(1), r.getInt(2), 16, r.getInt(3))
      val (rate, ch, bits, n) = planted("WAV", r.getLong(0))(parseWavHeader(header))
      Row(r.getLong(0), rate, ch, bits, n, n.toLong * 1000 / rate)
    }
  }

  /** dHash perceptual hash of a decoded raster: the image is reduced
    * to a 9×8 luma grid (integer block sums; adjacent-cell compares
    * use cross-multiplication so averages never touch floating
    * point), each bit = "is this cell brighter than its right
    * neighbor". Gradient-based ⇒ invariant to uniform brightness
    * shifts and compression noise — the property that makes it the
    * standard near-dup key for image corpora. */
  private[graft] def dhash64(img: java.awt.image.BufferedImage): Long = {
    val raster = img.getRaster
    val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
    val sums = Array.ofDim[Long](8, 9) // [row][col] luma sums
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val gy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val gx = math.min(8, x * 9 / w)
        var b = 0
        var luma = 0L
        while (b < bands) { luma += raster.getSample(x, y, b); b += 1 }
        sums(gy)(gx) += luma
        counts(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var bit = 0
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        // avg(gx) > avg(gx+1) without division: cross-multiply counts
        if (sums(gy)(gx) * counts(gy)(gx + 1) > sums(gy)(gx + 1) * counts(gy)(gx))
          hash |= 1L << bit
        bit += 1
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Shared oracle CTE chain replaying [[dhash64]] over the planted
    * PNGs analytically (r10, promoting the image-hash family from
    * rows-only): PNG is LOSSLESS, so the decoded raster the Scala side
    * hashes equals the integer pixel pattern [[syntheticPng]] wrote —
    * the oracle re-derives the 9×8 luma-grid sums, the cross-
    * multiplied adjacent compares, and the 64-bit assembly (HUGEINT
    * bit shifts folded back to the signed BIGINT two's-complement
    * value, the dedup_simhash discipline). Matching proves the REAL
    * javax.imageio decode round-trips the encoder bit-exactly. */
  private[operators] val sqlDhash: String =
    """imgs AS (
      |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id // 16) % 16 AS h
      |  FROM documents WHERE doc_id % 50 = 0),
      |px AS (
      |  SELECT doc_id,
      |    least(7, y * 8 // h) AS gy, least(8, x * 9 // w) AS gx,
      |    (doc_id * 31 + x * 7 + y * 13) % 256
      |      + (doc_id * 17 + x * 3 + y * 29) % 256
      |      + (doc_id * 43 + x * 19 + y * 5) % 256 AS luma
      |  FROM imgs, range(0, 24) rx(x), range(0, 24) ry(y)
      |  WHERE x < w AND y < h),
      |cells AS (
      |  SELECT doc_id, gy, gx, CAST(sum(luma) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM px GROUP BY 1, 2, 3),
      |dbits AS (
      |  SELECT a.doc_id, a.gy * 8 + a.gx AS bit
      |  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.gy = b.gy
      |    AND b.gx = a.gx + 1
      |  WHERE a.gx < 8 AND a.s * b.c > b.s * a.c),
      |ih AS (
      |  SELECT i.doc_id,
      |    CAST(CASE WHEN coalesce(t.u, 0) >= CAST('9223372036854775808' AS HUGEINT)
      |         THEN coalesce(t.u, 0) - CAST('18446744073709551616' AS HUGEINT)
      |         ELSE coalesce(t.u, 0) END AS BIGINT) AS phash
      |  FROM imgs i LEFT JOIN (
      |    SELECT doc_id, CAST(sum(CAST(1 AS HUGEINT) << bit) AS HUGEINT) AS u
      |    FROM dbits GROUP BY 1) t ON i.doc_id = t.doc_id)""".stripMargin

  /** Image perceptual hashing — the multimodal dedup primitive: every
    * 50th doc's planted PNG decodes through javax.imageio and hashes
    * via [[dhash64]]; non-image blobs take a portable md5 fingerprint
    * lane (flagged by is_image so downstream image-dedup joins only
    * hash-comparable rows). Oracled r10: the image lane replays
    * [[sqlDhash]] (lossless PNG ⇒ decoded raster = written pattern),
    * the stub lane is the repo-standard [[Exprs.md5Long]] both engines
    * share. */
  val imagePhash: GraftOp = GraftOp(
    "mm_image_phash",
    s"""WITH $sqlDhash
       |SELECT d.doc_id, d.doc_id % 50 = 0 AS is_image,
       |  CASE WHEN d.doc_id % 50 = 0 THEN ih.phash
       |       ELSE ${graft.functions.Exprs.sqlMd5Long("d.text")} END AS phash
       |FROM documents d LEFT JOIN ih ON d.doc_id = ih.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val blobs = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.Exprs.md5Long(col("text")).as("fallback"))
    plantedWalk(blobs, "doc_id BIGINT, is_image BOOLEAN, phash BIGINT") { r =>
      val docId = r.getLong(0)
      if (docId % 50 == 0) {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(syntheticPng(docId)))
        Row(docId, true, dhash64(img))
      } else {
        Row(docId, false, r.getLong(1))
      }
    }
  }

  /** Build a minimal genuine ISO-BMFF (MP4) container: ftyp + a
    * 16-byte free box (so the walker has to SKIP, not assume offsets)
    * + moov/mvhd carrying timescale and duration — big-endian
    * throughout, the real byte layout (contrast WAV's little-endian
    * RIFF). */
  private[graft] def mp4Bytes(brand: String, timescale: Int, duration: Int): Array[Byte] = {
    require(brand.length == 4)
    new Writer()
      .u32be(24).ascii("ftyp").ascii(brand).u32be(0).ascii("isom").ascii("mp41")
      .u32be(16).ascii("free").zeros(8)
      .u32be(116).ascii("moov")
      .u32be(108).ascii("mvhd")
      .u32be(0)                          // version 0 + flags
      .u32be(0).u32be(0)                 // creation / modification time
      .u32be(timescale).u32be(duration)
      .u32be(0x00010000).u16be(0x0100)   // rate 1.0, volume 1.0
      .zeros(10)                         // reserved
      .u32be(0x00010000).u32be(0).u32be(0) // unity matrix
      .u32be(0).u32be(0x00010000).u32be(0)
      .u32be(0).u32be(0).u32be(0x40000000)
      .zeros(24)                         // pre_defined
      .u32be(1)                          // next_track_ID
      .toArray
  }

  /** Walk an ISO-BMFF box tree: top-level boxes by (size32, fourcc),
    * ftyp yields the major brand, moov's children are walked for
    * mvhd's (timescale, duration). Returns None on any malformed box
    * (size < 8, overruns the buffer) — the quarantine lane. A real
    * demuxer's first loop. */
  private[graft] def parseMp4Meta(bytes: Array[Byte]): Option[(String, Int, Long)] =
    walk(bytes) { r =>
      var brand: String = null
      var ts = -1
      var dur = -1L
      var pos = 0L
      while (pos + 8 <= r.length) {
        val size = r.u32be(pos)
        need(size >= 8 && pos + size <= r.length)
        r.fourcc(pos + 4) match {
          case "ftyp" if size >= 12 => brand = r.fourcc(pos + 8)
          case "moov" =>
            var cpos = pos + 8
            while (cpos + 8 <= pos + size) {
              val csize = r.u32be(cpos)
              need(csize >= 8 && cpos + csize <= pos + size)
              if (r.fourcc(cpos + 4) == "mvhd" && csize >= 32 && r.u8(cpos + 8) == 0) {
                ts = r.u32be(cpos + 20).toInt // after version/flags + 2 times
                dur = r.u32be(cpos + 24)
              }
              cpos += csize
            }
          case _ => ()
        }
        pos += size
      }
      if (brand != null && ts > 0) Some((brand, ts, dur)) else None
    }

  /** Video-container metadata — the ISO-BMFF twin of [[wavMeta]]:
    * hash-derived parameters are laid out as a GENUINE MP4 box tree
    * (big-endian ftyp/free/moov/mvhd) and the kernel re-walks the
    * boxes like a demuxer (skipping the planted free box), recovering
    * brand, timescale, duration and integer duration_ms. The oracle
    * replays the hash arithmetic, so the hash match proves the
    * build→walk round trip preserves every field. mapPartitions,
    * zero shuffle. */
  val mp4Meta: GraftOp = GraftOp(
    "mm_mp4_meta",
    s"""WITH m AS (SELECT doc_id, ${Exprs.sqlMd5Long("text")} AS h FROM documents)
       |SELECT doc_id,
       |  CASE (h >> 2) % 2 WHEN 0 THEN 'isom' ELSE 'mp42' END AS brand,
       |  CAST(CASE h % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 24000
       |       ELSE 90000 END AS INT) AS timescale,
       |  CAST(1000 + (h >> 4) % 100000 AS BIGINT) AS duration_units,
       |  CAST((1000 + (h >> 4) % 100000) * 1000
       |    // (CASE h % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 24000
       |        ELSE 90000 END) AS BIGINT) AS duration_ms
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d)
      .select(col("doc_id"), Exprs.md5Long(col("text")).as("h"))
    plantedWalk(src, "doc_id BIGINT, brand STRING, timescale INT, duration_units BIGINT, " +
        "duration_ms BIGINT") { r =>
      val h = r.getLong(1)
      val brand = if (((h >> 2) % 2) == 0) "isom" else "mp42"
      val ts = (h % 4) match {
        case 0 => 600; case 1 => 1000; case 2 => 24000; case _ => 90000
      }
      val dur = (1000 + (h >> 4) % 100000).toInt
      val (pBrand, pTs, pDur) = planted("MP4", r.getLong(0))(parseMp4Meta(mp4Bytes(brand, ts, dur)))
      Row(r.getLong(0), pBrand, pTs, pDur, pDur * 1000L / pTs)
    }
  }

  /** Build a complete PCM WAV blob: [[wavHeader]] followed by the
    * 16-bit little-endian samples — the genuine byte layout an audio
    * decoder reads. */
  private[graft] def wavBytes(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val out = new Writer().bytes(wavHeader(sampleRate, 1, 16, samples.length))
    samples.foreach(out.u16le(_))
    out.toArray
  }

  /** Deterministic planted waveform for a doc: a square wave (period
    * and amplitude hash-derived) whose final quarter is silent — the
    * shape gives every DSP feature a non-trivial, analytically
    * checkable value. */
  private[graft] def syntheticWave(h: Long): (Int, Array[Short]) = {
    val n = 256 + math.floorMod(h, 256).toInt
    val period = 4 + math.floorMod(h >> 5, 12).toInt
    val amp = (1000 + math.floorMod(h >> 8, 20000)).toInt
    val silentFrom = n - n / 4
    val samples = new Array[Short](n)
    var i = 0
    while (i < silentFrom) {
      samples(i) = (if ((i / (period / 2)) % 2 == 0) amp else -amp).toShort
      i += 1
    }
    (8000 + math.floorMod(h, 8).toInt * 4000, samples)
  }

  /** Parse a full PCM WAV blob and extract integer DSP features:
    * peak |amplitude|, energy (Σ s² as a BIGINT), zero crossings
    * (strict sign flips), and 64-sample frame silence (max |s| < 100)
    * — the language-/float-free audio stats a filtering pipeline cuts
    * on (silence-heavy and clipped clips are dropped before
    * transcription). Returns None on a malformed container.
    *
    * mm_audio_energy's oracle replays this loop arithmetically: the
    * planted square wave is fully determined by the doc's md5Long
    * hash, so every feature is a per-sample CASE over
    * unnest(range(n)) — sign flips at multiples of period/2, the
    * silent tail contributes zero samples, frames group by i//64. */
  private[graft] def audioFeatures(bytes: Array[Byte]): Option[(Int, Int, Long, Int, Int, Int)] =
    walk(bytes) { r => parseWavHeader(bytes).map { case (_, channels, _, nSamples) =>
      var peak = 0
      var sumSq = 0L
      var zc = 0
      var frames = 0
      var silentFrames = 0
      var frameMax = 0
      var prev = 0
      val n = nSamples * channels // total 16-bit samples (bits == 16 here)
      var i = 0
      while (i < n) {
        val s = r.u16le(44 + 2L * i).toShort.toInt
        val a = math.abs(s)
        if (a > peak) peak = a
        if (a > frameMax) frameMax = a
        sumSq += s.toLong * s
        if (prev * s < 0) zc += 1
        if (s != 0) prev = s
        i += 1
        if (i % 64 == 0 || i == n) {
          frames += 1
          if (frameMax < 100) silentFrames += 1
          frameMax = 0
        }
      }
      (n, peak, sumSq, zc, frames, silentFrames)
    }}

  /** Audio energy / silence profiling — the audio lane's decode→
    * feature-extract twin of [[imageNearDup]]'s image lane: every doc
    * plants a COMPLETE deterministic WAV (genuine RIFF header + square
    * -wave PCM with a silent tail), and the kernel re-reads it as any
    * decoder would — container parse, then sample-level integer DSP
    * ([[audioFeatures]]). All-integer outputs — and ORACLE-CHECKED
    * since r15: the wave parameters derive from the portable 60-bit
    * md5Long hash (NOT a wrapping JVM hash), so the oracle simulates
    * the exact sample stream per doc (unnest(range(n)) + CASE) and
    * folds the same integer features; the REAL container parse + DSP
    * loop stays on the Spark side. MmSpec still pins the analytic
    * feature values of known waveforms. */
  val audioEnergy: GraftOp = GraftOp(
    "mm_audio_energy",
    """WITH p AS (
      |  SELECT doc_id, CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    256 + h % 256 AS n,
      |    (4 + (h // 32) % 12) // 2 AS hp,
      |    1000 + (h // 256) % 20000 AS amp,
      |    (256 + h % 256) - (256 + h % 256) // 4 AS silent_from
      |  FROM p),
      |s AS (
      |  SELECT w.doc_id, w.n, t.i,
      |    CASE WHEN t.i < w.silent_from
      |         THEN CASE WHEN ((t.i // w.hp) % 2) = 0 THEN w.amp ELSE -w.amp END
      |         ELSE 0 END AS smp,
      |    CASE WHEN t.i >= 1 AND t.i < w.silent_from
      |          AND ((t.i // w.hp) % 2) <> (((t.i - 1) // w.hp) % 2)
      |         THEN 1 ELSE 0 END AS flip
      |  FROM w, unnest(range(w.n)) AS t(i)),
      |f AS (
      |  SELECT doc_id, i // 64 AS frame, max(abs(smp)) AS fmax FROM s GROUP BY 1, 2),
      |fr AS (
      |  SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
      |    CAST(sum(CASE WHEN fmax < 100 THEN 1 ELSE 0 END) AS INT) AS n_silent_frames
      |  FROM f GROUP BY 1),
      |ag AS (
      |  SELECT doc_id, CAST(max(n) AS INT) AS n_samples, CAST(max(abs(smp)) AS INT) AS peak,
      |    CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
      |    CAST(sum(flip) AS INT) AS zero_crossings
      |  FROM s GROUP BY 1)
      |SELECT a.doc_id, a.n_samples, a.peak, a.sum_sq, a.zero_crossings,
      |  fr.n_frames, fr.n_silent_frames
      |FROM ag a JOIN fr USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d)
      .select(col("doc_id"), Exprs.md5Long(col("text")).as("h"))
    plantedWalk(src, "doc_id BIGINT, n_samples INT, peak INT, sum_sq BIGINT, " +
        "zero_crossings INT, n_frames INT, n_silent_frames INT") { r =>
      val (rate, samples) = syntheticWave(r.getLong(1))
      val (n, peak, sumSq, zc, frames, silent) =
        planted("WAV", r.getLong(0))(audioFeatures(wavBytes(rate, samples)))
      Row(r.getLong(0), n, peak, sumSq, zc, frames, silent)
    }
  }

  /** Candidate-pair finder over (doc_id, phash) frames: the 64-bit
    * hash is cut into four 16-bit bands and pairs meet through a band
    * equi-join — the simhash/LSH pigeonhole guarantee that any pair
    * within hamming ≤ 3 shares at least one identical band, so the
    * join can only miss pairs ≥ 4 bits apart (and in practice far
    * beyond — 4 spread bits must land in 4 distinct bands). Candidates
    * are then verified with an exact popcount on the XOR. Same
    * banded shape as DedupOps.simhash: the shuffle carries
    * (band, 16-bit value) keys, never an all-pairs product. */
  private[graft] def nearDupPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("phash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("phash"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("v"))
      }: _*)).as("bv"))
      .select(col("doc_id"), col("phash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    val l = banded.select(col("band"), col("v"),
      col("doc_id").as("da"), col("phash").as("pa"))
    val r = banded.select(col("band"), col("v"),
      col("doc_id").as("db"), col("phash").as("pb"))
    l.join(r, Seq("band", "v")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("pa"), col("pb")).distinct()
      .select(col("da"), col("db"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Image near-duplicate scan — the perceptual-hash analogue of
    * simhash text dedup, over the REAL image lane only (every 50th
    * doc decodes its planted PNG through javax.imageio; dHash bits
    * of non-images are not comparable, so the stub lane stays out by
    * construction). [[nearDupPairs]] generates banded candidates,
    * hamming ≤ 6 confirms, and the result rolls up per image
    * (n_neardup / min_hamming, isolated images kept at 0 / −1), so
    * cardinality is exactly the image count. Oracled r10 via
    * [[sqlDhash]]: the oracle replays the SAME contract the operator
    * computes — band-candidate (∃ equal 16-bit band, on the unsigned
    * HUGEINT view of the hash) AND hamming ≤ 6 via xor/bit_count on
    * the signed value — over the |images|² pair space that is tiny at
    * oracle SF (the Spark side never materializes it; the banded join
    * IS the scale path). */
  val imageNearDup: GraftOp = GraftOp(
    "mm_image_neardup",
    s"""WITH $sqlDhash,
       |u AS (
       |  SELECT doc_id, phash,
       |    CAST(phash AS HUGEINT) + CASE WHEN phash < 0
       |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS pu
       |  FROM ih),
       |pairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |    bit_count(xor(a.phash, b.phash)) AS hamming
       |  FROM u a JOIN u b ON a.doc_id < b.doc_id
       |  WHERE ((a.pu % 65536 = b.pu % 65536)
       |      OR ((a.pu // 65536) % 65536 = (b.pu // 65536) % 65536)
       |      OR ((a.pu // 4294967296) % 65536 = (b.pu // 4294967296) % 65536)
       |      OR ((a.pu // 281474976710656) % 65536 = (b.pu // 281474976710656) % 65536))
       |    AND bit_count(xor(a.phash, b.phash)) <= 6),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neardup,
       |    min(hamming) AS min_hamming
       |  FROM (SELECT da AS doc_id, hamming FROM pairs
       |        UNION ALL SELECT db, hamming FROM pairs)
       |  GROUP BY 1)
       |SELECT i.doc_id, coalesce(per.n_neardup, 0) AS n_neardup,
       |  CAST(coalesce(per.min_hamming, -1) AS INT) AS min_hamming
       |FROM ih i LEFT JOIN per ON i.doc_id = per.doc_id
       |ORDER BY i.doc_id""".stripMargin) { (s, d) =>
    val imgIds = Tables.documents(s, d)
      .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
    val hashes = rowsOf(imgIds, "doc_id BIGINT, phash BIGINT") { r =>
      val docId = r.getLong(0)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(syntheticPng(docId)))
      Row(docId, dhash64(img))
    }
    val pairs = nearDupPairs(hashes, maxHamming = 6).persist()
    val perImage = pairs.select(col("da").as("doc_id"), col("hamming"))
      .unionAll(pairs.select(col("db").as("doc_id"), col("hamming")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neardup"), min(col("hamming")).as("min_hamming"))
    hashes.join(perImage, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("min_hamming"), lit(-1)).as("min_hamming"))
      .orderBy(col("doc_id"))
  }

  /** Encode a hash-patterned raster as a REAL baseline JPEG through
    * the JDK's `javax.imageio` writer — the planted input for the
    * segment walk (dimensions hash-derived, so the oracle can predict
    * them without running Java). */
  private[graft] def syntheticJpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((x * 37 + y * 11) % 256 << 16) | ((x + y) % 256 << 8) | (x * y % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Walk a JPEG's marker segments like a metadata scanner (no pixel
    * decode): SOI, then FF-marker / 2-byte big-endian length frames
    * until a start-of-frame (SOF0 baseline / SOF2 progressive) yields
    * precision, height, width, component count. Returns
    * (sofMarker, width, height, nComponents, nSegmentsBeforeSof). */
  private[graft] def parseJpegMeta(bytes: Array[Byte]): Option[(String, Int, Int, Int, Int)] =
    walk(bytes) { r =>
      need(r.u8(0) == 0xff && r.u8(1) == 0xd8)
      var i = 2L
      var segs = 0
      var sof = Option.empty[(String, Int, Int, Int, Int)]
      while (sof.isEmpty && i + 3 < r.length) {
        need(r.u8(i) == 0xff)
        val marker = r.u8(i + 1)
        if (marker == 0xc0 || marker == 0xc2) {
          // SOF frame: len(2) precision(1) height(2) width(2) ncomp(1)
          sof = Some((if (marker == 0xc0) "SOF0" else "SOF2",
            r.u16be(i + 7), r.u16be(i + 5), r.u8(i + 9), segs))
        } else {
          i += 2 + r.u16be(i + 2)
          segs += 1
        }
      }
      sof
    }

  /** JPEG structural metadata via a genuine marker-segment walk — the
    * third leg of the container story (PNG full decode, RIFF/WAV
    * parse, ISO-BMFF box tree): a metadata pass reads dimensions from
    * the SOF header in O(header) bytes, never running the entropy
    * decoder. Planted JPEGs are REAL `javax.imageio` encodes at
    * hash-derived dimensions, re-walked demuxer-style; the oracle
    * predicts (marker, dims, components) from the same hash math —
    * matching proves the walk reads the real encoder's byte layout.
    * The JDK writer emits baseline SOF0 with 3 components for RGB
    * input (public JFIF behavior). */
  val jpegMeta: GraftOp = GraftOp(
    "mm_jpeg_meta",
    s"""WITH m AS (SELECT doc_id, ${Exprs.sqlMd5Long("text")} AS h FROM documents)
       |SELECT doc_id, 'SOF0' AS sof_marker,
       |  CAST(8 + h % 48 AS INT) AS width,
       |  CAST(8 + (h >> 6) % 48 AS INT) AS height,
       |  CAST(3 AS INT) AS n_components
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d)
      .select(col("doc_id"), Exprs.md5Long(col("text")).as("h"))
    plantedWalk(src,
        "doc_id BIGINT, sof_marker STRING, width INT, height INT, n_components INT") { r =>
      val h = r.getLong(1)
      val (w0, h0) = ((8 + h % 48).toInt, (8 + (h >> 6) % 48).toInt)
      val (sof, w, ht, nc, _) =
        planted("JPEG", r.getLong(0))(parseJpegMeta(syntheticJpeg(w0, h0)))
      Row(r.getLong(0), sof, w, ht, nc)
    }
  }

  /** Walk a PNG's chunk stream (no pixel decode): 8-byte signature,
    * then [len(4 BE), type(4 ASCII), data, crc(4)] frames; IHDR yields
    * width/height/bit-depth/color-type; a chunk that overruns the blob
    * is malformed. Returns (width, height, bitDepth, colorType,
    * firstChunk, lastChunk, nIdat). */
  private[graft] def parsePngChunks(bytes: Array[Byte]): Option[(Int, Int, Int, Int, String, String, Int)] =
    walk(bytes) { r =>
      need(PngSignature.indices.forall(i => r.u8(i) == PngSignature(i)))
      var i = 8L
      var first: String = null
      var last: String = null
      var nIdat = 0
      var w, h, depth, color = -1
      while (i + 8 <= r.length) {
        val len = r.u32be(i)
        r.at(i, 12 + len) // len + type + data + crc must fit
        val typ = r.fourcc(i + 4)
        if (first == null) first = typ
        last = typ
        if (typ == "IHDR") {
          w = r.u32be(i + 8).toInt; h = r.u32be(i + 12).toInt
          depth = r.u8(i + 16); color = r.u8(i + 17)
        }
        if (typ == "IDAT") nIdat += 1
        i += 12 + len
      }
      if (w < 0 || last != "IEND") None
      else Some((w, h, depth, color, first, last, nIdat))
    }

  private val PngSignature = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG structural metadata via a genuine chunk walk — the fourth leg
    * of the container story (JPEG marker walk, RIFF/WAV, ISO-BMFF):
    * dimensions and pixel format from IHDR in O(header) bytes, chunk
    * framing validated end-to-end (first=IHDR, last=IEND, ≥1 IDAT).
    * Planted PNGs are REAL `javax.imageio` encodes at id-derived
    * dimensions; the oracle predicts IHDR fields from the same id
    * math — matching proves the walk reads the real encoder's layout
    * (TYPE_3BYTE_BGR → 8-bit truecolor, color type 2). */
  val pngChunks: GraftOp = GraftOp(
    "mm_png_chunks",
    """SELECT doc_id,
      |  CAST(8 + doc_id % 16 AS INT) AS width,
      |  CAST(8 + (doc_id // 16) % 16 AS INT) AS height,
      |  CAST(8 AS INT) AS bit_depth,
      |  CAST(2 AS INT) AS color_type,
      |  'IHDR' AS first_chunk, 'IEND' AS last_chunk,
      |  CAST(1 AS INT) AS has_idat
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, width INT, height INT, bit_depth INT, color_type INT, " +
        "first_chunk STRING, last_chunk STRING, has_idat INT") { r =>
      val docId = r.getLong(0)
      val (w, h, depth, color, first, last, nIdat) =
        planted("PNG", docId)(parsePngChunks(syntheticPng(docId)))
      Row(docId, w, h, depth, color, first, last, if (nIdat > 0) 1 else 0)
    }
  }

  /** Deterministic GIF for `docId` via the REAL JDK GIF encoder
    * (palette quantization and LZW are the encoder's own). */
  private[graft] def syntheticBmp(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 16).toInt
    val h = 8 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((docId + x) % 256).toInt << 16) | (((x * y) % 256) << 8)
          | ((docId % 256).toInt))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** Walk a BMP's two fixed headers: BITMAPFILEHEADER ('BM', LE u32
    * file size, LE u32 pixel-data offset) then BITMAPINFOHEADER (LE
    * sizes/dims/planes/bpp/compression). Returns (width, height, bpp,
    * compression, fileSize, dataOffset); None on bad magic, a non-40
    * DIB header, or a declared size disagreeing with the buffer. */
  private[graft] def parseBmpMeta(
      bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int)] =
    walk(bytes) { r =>
      need(r.length >= 54 && r.ascii(0, 2) == "BM")
      val (fileSize, dataOffset) = (r.u32le(2), r.u32le(10))
      need(fileSize == r.length && dataOffset <= r.length)
      need(r.u32le(14) == 40) // only BITMAPINFOHEADER walked
      need(r.u16le(26) == 1)  // planes
      Some((r.u32le(18).toInt, r.u32le(22).toInt, r.u16le(28), r.u32le(30).toInt,
        fileSize.toInt, dataOffset.toInt))
    }

  private[graft] def syntheticGif(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 16).toInt
    val h = 8 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((docId + x) % 256).toInt << 16) | (((x * y) % 256) << 8)
          | ((docId % 256).toInt))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    bos.toByteArray
  }

  /** Walk a GIF's block stream: header+version, little-endian logical
    * screen descriptor, global color table skip, then extension /
    * image-descriptor / trailer blocks with sub-block chains skipped
    * size-first (never decoded). Returns (version, width, height,
    * nFrames, sawTrailer). */
  private[graft] def parseGifMeta(bytes: Array[Byte]): Option[(String, Int, Int, Int, Boolean)] =
    walk(bytes) { r =>
      need(r.length >= 13 && r.ascii(0, 3) == "GIF")
      // a color table follows when the packed byte's top bit is set
      def colorTable(packed: Int): Int =
        if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0
      var i = 13L + colorTable(r.u8(10))
      var frames = 0
      var trailer = false
      def skipSubBlocks(): Unit = {
        while (i < r.length && r.u8(i) != 0) i += 1 + r.u8(i)
        i += 1 // terminator
      }
      while (!trailer && i < r.length) {
        r.u8(i) match {
          case 0x21 => // extension: label byte then sub-blocks
            i += 2; skipSubBlocks()
          case 0x2c => // image descriptor, then the LZW minimum code size
            frames += 1
            i += 10 + colorTable(r.u8(i + 9)) + 1
            skipSubBlocks()
          case 0x3b => trailer = true
          case _ => malformed // unknown block
        }
      }
      Some((r.ascii(3, 3), r.u16le(6), r.u16le(8), frames, trailer))
    }

  /** GIF structural metadata — fifth container leg: the block walk
    * skips LZW sub-block chains size-first exactly like a demuxer,
    * counts image descriptors and requires the trailer. Planted GIFs
    * are REAL JDK encodes at id-derived dimensions; the oracle
    * predicts version/dims/frame-count from the same id math. */
  /** Tenth container leg: BMP fixed-header walk over REAL JDK encodes
    * (TYPE_INT_RGB → 24-bpp uncompressed BITMAPINFOHEADER at offset
    * 54). The oracle predicts every field from id math alone — width/
    * height from the planted dims, pixel bytes from the 4-byte row
    * padding rule ⌈3w/4⌉·4·h — so a hash match proves the encoder and
    * the walker agree on the whole layout, padding included. Kernel in
    * mapPartitions like every codec. */
  val bmpMeta: GraftOp = GraftOp(
    "mm_bmp_meta",
    """SELECT doc_id,
      |  CAST(8 + doc_id % 16 AS INT) AS width,
      |  CAST(8 + (doc_id // 16) % 16 AS INT) AS height,
      |  CAST(24 AS INT) AS bpp, CAST(0 AS INT) AS compression,
      |  CAST((((8 + doc_id % 16) * 3 + 3) // 4) * 4
      |       * (8 + (doc_id // 16) % 16) AS INT) AS pixel_bytes
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src,
        "doc_id BIGINT, width INT, height INT, bpp INT, compression INT, pixel_bytes INT") { r =>
      val docId = r.getLong(0)
      val (w, h, bpp, comp, fileSize, off) = planted("BMP", docId)(parseBmpMeta(syntheticBmp(docId)))
      Row(docId, w, h, bpp, comp, fileSize - off)
    }
  }

  val gifMeta: GraftOp = GraftOp(
    "mm_gif_meta",
    """SELECT doc_id, '89a' AS version,
      |  CAST(8 + doc_id % 16 AS INT) AS width,
      |  CAST(8 + (doc_id // 16) % 16 AS INT) AS height,
      |  CAST(1 AS INT) AS n_frames, CAST(1 AS INT) AS has_trailer
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src,
        "doc_id BIGINT, version STRING, width INT, height INT, n_frames INT, has_trailer INT") { r =>
      val docId = r.getLong(0)
      val (v, w, h, nf, tr) = planted("GIF", docId)(parseGifMeta(syntheticGif(docId)))
      Row(docId, v, w, h, nf, if (tr) 1 else 0)
    }
  }

  /** Build a POSIX ustar archive: one 512-byte header per entry (octal
    * size/mtime fields, checksum computed over the header with the
    * checksum field blanked to spaces, `ustar` magic), payload padded
    * to the 512 boundary, two zero blocks at the end. */
  private[graft] def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new Writer()
    entries.foreach { case (name, data) =>
      // name, mode, uid, gid, size, mtime, checksum, type '0', linkname,
      // magic, version, zero fill to 512
      def header(checksum: String): Array[Byte] = new Writer()
        .field(name, 100).field("0000644", 8).field("0000000", 8).field("0000000", 8)
        .field(f"${data.length}%011o", 12).field("00000000000", 12)
        .ascii(checksum).ascii("0").zeros(100)
        .field("ustar", 6).ascii("00").zeros(247)
        .toArray
      val sum = header(" " * 8).map(_ & 0xff).sum // summed with the field blanked
      out.bytes(header(f"$sum%06o" + "\u0000 ")).bytes(data)
        .zeros((512 - data.length % 512) % 512)
    }
    out.zeros(1024).toArray
  }

  /** Walk a ustar archive header-first (the WebDataset reader loop):
    * per entry verify the `ustar` magic and the header checksum
    * (space-blanked sum), read the octal size, skip the padded payload
    * — stop at the first zero block. Returns (nEntries, payloadBytes,
    * headersOk, firstName); None when the terminator is missing or a
    * header is unwalkable. */
  private[graft] def parseTar(bytes: Array[Byte]): Option[(Int, Long, Int, String)] =
    walk(bytes) { r =>
      // an octal field: digits only, so no sign, and 11 digits cannot overflow
      def octal(off: Long, n: Int): Long = {
        val digits = r.ascii(off, n).trim
        need(digits.nonEmpty && digits.forall(c => c >= '0' && c <= '7'))
        java.lang.Long.parseLong(digits, 8)
      }
      var i = 0L; var entries = 0; var payload = 0L; var okChk = 0; var first = ""
      // every 512-byte block must fit; one starting with NUL ends the archive
      while (r.u8(r.at(i, 512)) != 0) {
        need(r.ascii(i + 257, 5) == "ustar")
        var e = i
        while (e < i + 100 && r.u8(e) != 0) e += 1
        val name = r.ascii(i, (e - i).toInt)
        var sum = 0L; var j = 0
        while (j < 512) { sum += (if (j >= 148 && j < 156) 32 else r.u8(i + j)); j += 1 }
        if (sum == octal(i + 148, 6)) okChk += 1
        val size = octal(i + 124, 11)
        if (entries == 0) first = name
        entries += 1; payload += size
        i += 512 + (size + 511) / 512 * 512
      }
      Some((entries, payload, okChk, first))
    }

  /** TAR / WebDataset sample metadata — sixth container leg, and the
    * container LLM training shards actually ship in: each document
    * becomes a WebDataset-style sample tar (`<key>.txt` payload +
    * `<key>.cls` label), built as a REAL ustar archive (octal fields,
    * blanked-checksum sum, zero-block terminator) and walked back
    * header-first with checksum verification. The oracle predicts
    * entry count, payload bytes, 512-block count and first member name
    * from the same id/text math (strlen = byte length both sides —
    * the corpus is ASCII; hash-match proves the build→parse round
    * trip). Build+walk live in one mapPartitions — zero shuffle. */
  val tarMeta: GraftOp = GraftOp(
    "mm_tar_meta",
    """SELECT doc_id,
      |  CAST(2 AS INT) AS n_entries,
      |  CAST(strlen(text) + strlen(lang) AS BIGINT) AS payload_bytes,
      |  CAST(4 + (strlen(text) + 511) // 512 + (strlen(lang) + 511) // 512 AS BIGINT)
      |    AS n_blocks,
      |  CAST(2 AS INT) AS headers_ok,
      |  concat(CAST(doc_id AS VARCHAR), '.txt') AS first_name
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    plantedWalk(src, "doc_id BIGINT, n_entries INT, payload_bytes BIGINT, n_blocks BIGINT, " +
        "headers_ok INT, first_name STRING") { r =>
      val docId = r.getLong(0)
      val tar = tarBytes(Seq(
        s"$docId.txt" -> r.getString(1).getBytes("UTF-8"),
        s"$docId.cls" -> r.getString(2).getBytes("UTF-8")))
      val (n, payload, ok, first) = planted("tar", docId)(parseTar(tar))
      Row(docId, n, payload, tar.length.toLong / 512, ok, first)
    }
  }

  /** Build a store-method (no compression) ZIP: local file headers +
    * payloads, then the central directory, then the end-of-central-
    * directory record — real CRC-32s via java.util.zip. */
  private[graft] def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new Writer()
    val cds = entries.map { case (name, data) =>
      val off = out.size
      val crcCalc = new java.util.zip.CRC32(); crcCalc.update(data)
      val crc = crcCalc.getValue
      // local header: version, flags, method (store), time, date, crc,
      // sizes, name length, extra length
      out.u32le(0x04034b50).u16le(20).u16le(0).u16le(0).u16le(0).u16le(0)
        .u32le(crc).u32le(data.length).u32le(data.length).u16le(name.length).u16le(0)
        .ascii(name).bytes(data)
      (name, crc, data.length, off)
    }
    val cdStart = out.size
    cds.foreach { case (name, crc, size, off) =>
      // central entry: versions, flags, method, time, date, crc, sizes,
      // name/extra/comment lengths, disk, attributes, local offset
      out.u32le(0x02014b50).u16le(20).u16le(20).u16le(0).u16le(0).u16le(0).u16le(0)
        .u32le(crc).u32le(size).u32le(size).u16le(name.length).u16le(0).u16le(0)
        .u16le(0).u16le(0).u32le(0).u32le(off)
        .ascii(name)
    }
    val cdSize = out.size - cdStart
    out.u32le(0x06054b50).u16le(0).u16le(0).u16le(cds.size).u16le(cds.size)
      .u32le(cdSize).u32le(cdStart).u16le(0)
      .toArray
  }

  /** Read a ZIP the way unzip does: find the EOCD signature from the
    * end, jump to the central directory, walk its entries, and verify
    * each member by recomputing CRC-32 over the stored payload reached
    * through its local header. Returns (nEntries, totalUncompressed,
    * cdSize, crcOk). */
  private[graft] def parseZip(bytes: Array[Byte]): Option[(Int, Long, Int, Int)] =
    walk(bytes) { r =>
      var e = r.length - 22L
      while (e >= 0 && r.u32le(e) != 0x06054b50L) e -= 1
      need(e >= 0)
      val n = r.u16le(e + 10)
      var i = r.u32le(e + 16)
      var total = 0L; var crcOk = 0
      for (_ <- 0 until n) {
        need(r.u32le(i) == 0x02014b50L)
        val size = r.u32le(i + 24)
        val lho = r.u32le(i + 42)
        // local header: fixed 30 bytes + its own name/extra lengths
        val dataOff = lho + 30 + r.u16le(lho + 26) + r.u16le(lho + 28)
        val calc = new java.util.zip.CRC32()
        calc.update(bytes, r.at(dataOff, size), size.toInt)
        if (calc.getValue == r.u32le(i + 16)) crcOk += 1
        total += size
        i += 46 + r.u16le(i + 28) + r.u16le(i + 30) + r.u16le(i + 32) // name, extra, comment
      }
      Some((n, total, r.u32le(e + 12).toInt, crcOk))
    }

  /** ZIP central-directory walk — seventh container leg (the docx /
    * epub / apk family): per document a REAL store-method zip of the
    * same two WebDataset members, read back EOCD-first with per-member
    * CRC-32 re-verification against the stored payload. The oracle
    * predicts entry count, byte totals and the central-directory size
    * from name/text length math; crc_ok = 2 asserts the JVM-side
    * round trip. One mapPartitions, zero shuffle. */
  val zipMeta: GraftOp = GraftOp(
    "mm_zip_meta",
    """SELECT doc_id,
      |  CAST(2 AS INT) AS n_entries,
      |  CAST(strlen(text) + strlen(lang) AS BIGINT) AS total_bytes,
      |  CAST(92 + 2 * (strlen(CAST(doc_id AS VARCHAR)) + 4) AS INT) AS cd_size,
      |  CAST(2 AS INT) AS crc_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    plantedWalk(src,
        "doc_id BIGINT, n_entries INT, total_bytes BIGINT, cd_size INT, crc_ok INT") { r =>
      val docId = r.getLong(0)
      val zip = zipBytes(Seq(
        s"$docId.txt" -> r.getString(1).getBytes("UTF-8"),
        s"$docId.cls" -> r.getString(2).getBytes("UTF-8")))
      val (n, total, cdSize, crcOk) = planted("zip", docId)(parseZip(zip))
      Row(docId, n, total, cdSize, crcOk)
    }
  }

  /** Build a minimal REAL PDF: header, catalog → pages → N page
    * objects with id-derived MediaBox, a byte-exact xref table, and
    * the trailer/startxref tail a conforming reader seeks first. */
  private[graft] def pdfBytes(nPages: Int, w: Int, h: Int): Array[Byte] = {
    val sb = new StringBuilder
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    sb.append("%PDF-1.4\n")
    def obj(body: String): Unit = { offsets += sb.length; sb.append(body) }
    obj("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    obj(s"2 0 obj << /Type /Pages /Kids [$kids] /Count $nPages >> endobj\n")
    (0 until nPages).foreach { i =>
      obj(s"${3 + i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 $w $h] >> endobj\n")
    }
    val xrefOff = sb.length
    sb.append(f"xref\n0 ${offsets.length + 1}%d\n")
    sb.append("0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer << /Size ${offsets.length + 1} /Root 1 0 R >>\n")
    sb.append(s"startxref\n$xrefOff\n%%EOF\n")
    sb.toString.getBytes("US-ASCII")
  }

  /** Read a PDF the way a conforming reader starts: the startxref
    * pointer in the tail, the xref table at that offset, per-object
    * offset validation ("<id> 0 obj" must sit at every claimed
    * offset), then trailer /Root → catalog → /Pages → /Count and the
    * first page's /MediaBox. Returns (version, nObjects, nPages,
    * width, height, xrefOk); None when the tail/table is malformed. */
  private[graft] def parsePdf(bytes: Array[Byte]): Option[(String, Int, Int, Int, Int, Boolean)] =
    walk(bytes) { r =>
      val s = new String(bytes, US_ASCII) // one char per byte: s's indexes are r's offsets
      def int(digits: String): Int = digits.toIntOption.getOrElse(malformed)
      def ints(re: String, in: String): Seq[Int] =
        re.r.findFirstMatchIn(in).getOrElse(malformed).subgroups.map(int)
      need(s.startsWith("%PDF-"))
      val sx = s.lastIndexOf("startxref")
      need(sx >= 0)
      val xrefOff = int(s.substring(sx + 9).trim.takeWhile(_.isDigit))
      need(s.startsWith("xref", xrefOff))
      val afterXref = s.indexOf('\n', xrefOff) + 1
      val entries0 = s.indexOf('\n', afterXref) + 1
      val header = r.ascii(afterXref, entries0 - 1 - afterXref).trim.split(" ")
      need(header.length >= 2)
      val size = int(header(1))
      var xrefOk = true
      var i = 1 // entry 0 is the free head
      while (i < size) {
        val e = r.ascii(entries0 + i * 20L, 20)
        if (e.charAt(17) != 'n' || !s.startsWith(s"$i 0 obj", int(e.substring(0, 10)))) xrefOk = false
        i += 1
      }
      val trailer = s.indexOf("trailer", entries0)
      need(trailer >= 0)
      def objBody(id: Int): String = {
        val start = s.indexOf(s"$id 0 obj")
        if (start < 0) "" else r.ascii(start, s.indexOf("endobj", start) - start)
      }
      val Seq(root) = ints("""/Root (\d+) 0 R""", s.substring(trailer))
      val Seq(pagesRef) = ints("""/Pages (\d+) 0 R""", objBody(root))
      val pagesObj = objBody(pagesRef)
      val Seq(count) = ints("""/Count (\d+)""", pagesObj)
      val Seq(firstKid) = ints("""/Kids \[(\d+) 0 R""", pagesObj)
      val Seq(w, h) = ints("""/MediaBox \[0 0 (\d+) (\d+)\]""", objBody(firstKid))
      Some((r.ascii(5, 3), size - 1, count, w, h, xrefOk))
    }

  /** PDF xref walk — eighth container leg, the DOCUMENT container a
    * text-extraction pipeline meets first: per doc a REAL minimal PDF
    * (catalog → pages → id-derived page objects, byte-exact xref,
    * trailer/startxref tail) read back reader-style — startxref seek,
    * xref parse with per-object OFFSET VALIDATION, trailer /Root
    * chase to /Count and the first MediaBox. Oracle predicts every
    * field from the id math; xref_ok = 1 pins that the builder's
    * byte offsets are the parser's truth. mapPartitions, zero
    * shuffle. */
  val pdfMeta: GraftOp = GraftOp(
    "mm_pdf_meta",
    """SELECT doc_id, '1.4' AS version,
      |  CAST(2 + 1 + doc_id % 4 AS INT) AS n_objects,
      |  CAST(1 + doc_id % 4 AS INT) AS n_pages,
      |  CAST(400 + doc_id % 200 AS INT) AS width,
      |  CAST(500 + (doc_id // 7) % 300 AS INT) AS height,
      |  CAST(1 AS INT) AS xref_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, version STRING, n_objects INT, n_pages INT, width INT, " +
        "height INT, xref_ok INT") { r =>
      val docId = r.getLong(0)
      val pdf = pdfBytes((1 + docId % 4).toInt, (400 + docId % 200).toInt,
        (500 + (docId / 7) % 300).toInt)
      val (v, no, np, w, h, ok) = planted("PDF", docId)(parsePdf(pdf))
      Row(docId, v, no, np, w, h, if (ok) 1 else 0)
    }
  }

  /** Mixed-corpus container census — the composition op over ALL
    * EIGHT container legs: each doc plants the format its id selects
    * (png/gif/jpeg/wav/mp4/tar/zip/pdf), the matching walker parses it
    * back, and the rollup reports per-format doc counts and parse
    * successes — the "what is actually in this crawl bucket and how
    * much of it opens" inventory a multimodal ingest runs first. The
    * oracle predicts counts from id arithmetic; parsed_ok = n_docs
    * hash-pins every builder→walker pair in one row each. Kernels in
    * mapPartitions, one 8-group aggregate. */
  val containerCensus: GraftOp = GraftOp(
    "mm_container_census",
    """WITH f AS (
      |  SELECT CASE CAST(doc_id % 8 AS INT)
      |    WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
      |    WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4' WHEN 5 THEN 'tar'
      |    WHEN 6 THEN 'zip' ELSE 'pdf' END AS format
      |  FROM documents)
      |SELECT format, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS parsed_ok
      |FROM f GROUP BY 1 ORDER BY format""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    rowsOf(src, "doc_id BIGINT, format STRING, ok INT") { r =>
      val id = r.getLong(0)
      val (fmt, ok) = (id % 8) match {
        case 0 => "png" -> parsePngChunks(syntheticPng(id)).isDefined
        case 1 => "gif" -> parseGifMeta(syntheticGif(id)).isDefined
        case 2 => "jpeg" -> parseJpegMeta(syntheticJpeg((8 + id % 8).toInt, 8)).isDefined
        case 3 => "wav" -> parseWavHeader(wavBytes(8000,
          Array.tabulate(16)(i => ((id + i) % 256).toShort))).isDefined
        case 4 => "mp4" -> parseMp4Meta(mp4Bytes("isom", 1000, (id % 5000).toInt)).isDefined
        case 5 => "tar" -> parseTar(tarBytes(Seq(
          s"$id.txt" -> s"doc $id".getBytes("UTF-8")))).isDefined
        case 6 => "zip" -> parseZip(zipBytes(Seq(
          s"$id.txt" -> s"doc $id".getBytes("UTF-8")))).isDefined
        case _ => "pdf" -> parsePdf(pdfBytes((1 + id % 3).toInt, 612, 792)).isDefined
      }
      Row(id, fmt, if (ok) 1 else 0)
    }
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).cast(LongType).as("parsed_ok"))
      .orderBy(col("format"))
  }

  /** MPEG-1 Layer III bitrate table (kbps), index 1..14 (0 = free, 15
    * = bad — neither planted). Public constants from ISO/IEC 11172-3. */
  private val Mp3Bitrates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** Build a REAL MPEG-1 Layer III stream: `nFrames` frames, each a
    * genuine 4-byte header (sync, version, layer, bitrate index,
    * sample-rate index, padding 0) plus a zero payload of the exact
    * spec frame length ⌊144000·kbps/rate⌋. */
  private[graft] def mp3Stream(bitrateIdx: Int, rateIdx: Int, nFrames: Int): Array[Byte] = {
    val frameLen = 144000 * Mp3Bitrates(bitrateIdx) / Mp3Rates(rateIdx)
    val out = new Array[Byte](frameLen * nFrames)
    var f = 0
    while (f < nFrames) {
      val o = f * frameLen
      out(o) = 0xFF.toByte
      out(o + 1) = 0xFB.toByte // MPEG-1, Layer III, no CRC
      out(o + 2) = ((bitrateIdx << 4) | (rateIdx << 2)).toByte
      out(o + 3) = 0 // stereo, no emphasis
      f += 1
    }
    out
  }

  /** Walk an MP3 stream frame-by-frame using each header's OWN length
    * field (the real parser discipline — no trust in caller-known
    * frame counts): (bitrate_kbps, sample_rate, n_frames), or None on
    * a bad sync / inconsistent parameters. */
  private[graft] def parseMp3(bytes: Array[Byte]): Option[(Int, Int, Int)] =
    walk(bytes) { r =>
      var o = 0L
      var n = 0
      var kbps = -1
      var rate = -1
      while (o + 4 <= r.length) {
        need(r.u8(o) == 0xFF && (r.u8(o + 1) & 0xFE) == 0xFA)
        val flags = r.u8(o + 2) // bitrate index(4) rate index(2) padding(1)
        val (bIdx, rIdx) = (flags >> 4, (flags >> 2) & 0x3)
        need(bIdx != 0 && bIdx != 15 && rIdx != 3)
        val (k, hz) = (Mp3Bitrates(bIdx), Mp3Rates(rIdx))
        if (kbps == -1) { kbps = k; rate = hz }
        else need(kbps == k && rate == hz)
        o += 144000 * k / hz + ((flags >> 1) & 1) // at least 96 bytes
        n += 1
      }
      if (n == 0 || o != r.length) None else Some((kbps, rate, n))
    }

  /** MP3 frame-sync walk — the ninth container leg (compressed-audio
    * metadata next to WAV's PCM): hash-derived parameters → a genuine
    * MPEG-1 Layer III stream → the kernel re-derives bitrate/rate/
    * frame count by walking sync words and per-header frame lengths.
    * Duration is exact integer math: each Layer III frame spans 1152
    * samples. The oracle replays the hash-derived parameters and the
    * spec arithmetic analytically. */
  val mp3Meta: GraftOp = GraftOp(
    "mm_mp3_meta",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(1 + ${Exprs.sqlMd5Long("text")} % 14 AS INT) AS b_idx,
       |    CAST((${Exprs.sqlMd5Long("text")} >> 4) % 3 AS INT) AS r_idx,
       |    CAST(50 + (${Exprs.sqlMd5Long("text")} >> 6) % 200 AS INT) AS n_frames
       |  FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320], b_idx) AS bitrate_kbps,
       |    list_extract([44100, 48000, 32000], r_idx + 1) AS sample_rate,
       |    n_frames
       |  FROM m)
       |SELECT doc_id, CAST(bitrate_kbps AS INT) AS bitrate_kbps,
       |  CAST(sample_rate AS INT) AS sample_rate, n_frames,
       |  CAST(n_frames AS BIGINT) * 1152 * 1000 // sample_rate AS duration_ms
       |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    val params = Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(1) + h % 14).cast(IntegerType).as("b_idx"),
        (shiftright(h, 4) % 3).cast(IntegerType).as("r_idx"),
        (lit(50) + shiftright(h, 6) % 200).cast(IntegerType).as("n_frames"))
    plantedWalk(params,
        "doc_id BIGINT, bitrate_kbps INT, sample_rate INT, n_frames INT, duration_ms BIGINT") { r =>
      val stream = mp3Stream(r.getInt(1), r.getInt(2), r.getInt(3))
      val (kbps, rate, n) = planted("MP3", r.getLong(0))(parseMp3(stream))
      Row(r.getLong(0), kbps, rate, n, n.toLong * 1152 * 1000 / rate)
    }
  }

  /** Build a REAL ID3v2.3 tag (10-byte header with a SYNCSAFE 28-bit
    * body size — four 7-bit bytes, the encoding no other leg
    * exercises — plus one TIT2 text frame with a plain big-endian
    * v2.3 frame size and an ISO-8859-1 title) prepended to a genuine
    * MPEG-1 Layer III stream from [[mp3Stream]]. */
  private[graft] def id3Mp3Stream(titleLen: Int, bitrateIdx: Int, rateIdx: Int,
      nFrames: Int): Array[Byte] = {
    val frameBody = 1 + titleLen // encoding byte + latin-1 title
    val tagBody = 10 + frameBody // one TIT2 frame header + body
    new Writer()
      .ascii("ID3").u8(3).u8(0) // v2.3.0
      .u8(0) // no unsync/extended-header/experimental flags
      .u8(tagBody >> 21 & 0x7F).u8(tagBody >> 14 & 0x7F).u8(tagBody >> 7 & 0x7F).u8(tagBody & 0x7F)
      .ascii("TIT2").u32be(frameBody)
      .u16be(0) // frame flags
      .u8(0) // ISO-8859-1 text encoding
      .bytes(Array.tabulate[Byte](titleLen)(i => ('A' + (titleLen + i) % 26).toByte))
      .bytes(mp3Stream(bitrateIdx, rateIdx, nFrames))
      .toArray
  }

  /** Walk an ID3v2-tagged MP3: validate the ID3 header, decode the
    * syncsafe size (REJECTING any size byte with its high bit set —
    * the corruption the 7-bit encoding exists to make detectable),
    * validate the single TIT2 frame fills the tag body exactly, then
    * hand the remainder to [[parseMp3]]'s sync walk. Returns
    * (tag_bytes, title_len, bitrate_kbps, sample_rate, n_frames). */
  private[graft] def parseId3Mp3(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int)] =
    walk(bytes) { r =>
      need(r.ascii(0, 3) == "ID3" && r.u8(3) == 3 && r.u8(4) == 0 && r.u8(5) == 0)
      val sizeBytes = (6 until 10).map(r.u8(_))
      need(sizeBytes.forall(_ < 0x80)) // syncsafe bytes carry 7 bits
      val size = sizeBytes.foldLeft(0)((acc, b) => acc << 7 | b)
      val tagEnd = r.at(10 + size, 0) // the tag ends inside the blob
      need(r.fourcc(10) == "TIT2" && r.u16be(18) == 0)
      val frameBody = r.u32be(14)
      need(10 + frameBody == size) // the one frame fills the body
      need(r.u8(20) == 0) // ISO-8859-1 only
      parseMp3(java.util.Arrays.copyOfRange(bytes, tagEnd, bytes.length))
        .map { case (kbps, rate, n) => (tagEnd, (frameBody - 1).toInt, kbps, rate, n) }
    }

  /** ID3v2 tag walk over tagged MP3s — the twelfth container leg, and
    * the only one exercising SYNCSAFE integers (ID3's 7-bit size
    * bytes): hash-derived title/stream parameters → a real v2.3 tag +
    * Layer III stream → the walker re-derives tag size, title length
    * and audio parameters from the bytes alone. The oracle replays the
    * parameters and the 21+titleLen tag arithmetic analytically. */
  val id3Meta: GraftOp = GraftOp(
    "mm_id3_meta",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(5 + ${Exprs.sqlMd5Long("text")} % 20 AS INT) AS title_len,
       |    CAST(1 + (${Exprs.sqlMd5Long("text")} >> 2) % 14 AS INT) AS b_idx,
       |    CAST((${Exprs.sqlMd5Long("text")} >> 4) % 3 AS INT) AS r_idx,
       |    CAST(20 + (${Exprs.sqlMd5Long("text")} >> 6) % 100 AS INT) AS n_frames
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(21 + title_len AS INT) AS tag_bytes, title_len,
       |  CAST(list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320], b_idx) AS INT) AS bitrate_kbps,
       |  CAST(list_extract([44100, 48000, 32000], r_idx + 1) AS INT) AS sample_rate,
       |  n_frames
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    val params = Tables.documents(s, d)
      .select(col("doc_id"),
        (lit(5) + h % 20).cast(IntegerType).as("title_len"),
        (lit(1) + shiftright(h, 2) % 14).cast(IntegerType).as("b_idx"),
        (shiftright(h, 4) % 3).cast(IntegerType).as("r_idx"),
        (lit(20) + shiftright(h, 6) % 100).cast(IntegerType).as("n_frames"))
    plantedWalk(params, "doc_id BIGINT, tag_bytes INT, title_len INT, bitrate_kbps INT, " +
        "sample_rate INT, n_frames INT") { r =>
      val stream = id3Mp3Stream(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      val (tagBytes, titleLen, kbps, rate, n) = planted("ID3 MP3", r.getLong(0))(parseId3Mp3(stream))
      Row(r.getLong(0), tagBytes, titleLen, kbps, rate, n)
    }
  }

  /** Build a REAL FLAC header: "fLaC" magic + a last-flagged
    * STREAMINFO metadata block with the genuine big-endian bit
    * packing (16+16 blocksizes, 24+24 framesizes, then the 64-bit
    * rate(20)|channels-1(3)|bps-1(5)|totalSamples(36) group, 16-byte
    * zero MD5). */
  private[graft] def flacHeader(sampleRate: Int, channels: Int, bps: Int,
      totalSamples: Long): Array[Byte] = {
    val group = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bps - 1).toLong << 36) | (totalSamples & 0xFFFFFFFFFL)
    new Writer().ascii("fLaC")
      .u8(0x80) // last-metadata-block | type 0 (STREAMINFO)
      .u8(0).u16be(34) // 24-bit length
      .u16be(4096).u16be(4096) // min/max blocksize
      .zeros(6) // min/max framesize (unknown)
      .u64be(group)
      .zeros(16) // md5 of raw audio (zeros: unknown)
      .toArray
  }

  /** Parse a FLAC STREAMINFO header: (sampleRate, channels, bps,
    * totalSamples), or None when magic/type/length don't check out. */
  private[graft] def parseFlacHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] =
    walk(bytes) { r =>
      need(r.fourcc(0) == "fLaC")
      need((r.u8(4) & 0x7F) == 0) // STREAMINFO must be type 0
      need((r.u8(5) << 16 | r.u16be(6)) == 34) // 24-bit block length
      r.at(8, 34) // the whole block is present
      val group = r.u64be(18) // after the blocksizes and framesizes
      Some(((group >>> 44).toInt, ((group >>> 41) & 0x7).toInt + 1,
        ((group >>> 36) & 0x1F).toInt + 1, group & 0xFFFFFFFFFL))
    }

  /** FLAC STREAMINFO walk — the tenth container leg (lossless-audio
    * metadata): hash-derived parameters → genuine fLaC magic +
    * bit-packed STREAMINFO → parsed back field by field. The 20/3/5/36
    * bit group exercises sub-byte big-endian packing no other leg
    * does. Oracle replays the parameters analytically. */
  val flacMeta: GraftOp = GraftOp(
    "mm_flac_meta",
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(list_extract([8000, 16000, 22050, 44100, 48000, 96000],
       |      CAST(1 + ${Exprs.sqlMd5Long("text")} % 6 AS INT)) AS INT) AS sample_rate,
       |    CAST(1 + (${Exprs.sqlMd5Long("text")} >> 3) % 2 AS INT) AS channels,
       |    CAST(CASE WHEN (${Exprs.sqlMd5Long("text")} >> 5) % 2 = 0 THEN 16 ELSE 24 END AS INT) AS bps,
       |    CAST(10000 + (${Exprs.sqlMd5Long("text")} >> 7) % 100000 AS BIGINT) AS total_samples
       |  FROM documents)
       |SELECT doc_id, sample_rate, channels, bps, total_samples,
       |  total_samples * 1000 // sample_rate AS duration_ms
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    val rates = Array(8000, 16000, 22050, 44100, 48000, 96000)
    val params = Tables.documents(s, d)
      .select(col("doc_id"),
        element_at(lit(rates), (lit(1) + h % 6).cast(IntegerType)).as("sample_rate"),
        (lit(1) + shiftright(h, 3) % 2).cast(IntegerType).as("channels"),
        when(shiftright(h, 5) % 2 === 0, 16).otherwise(24).as("bps"),
        (lit(10000L) + shiftright(h, 7) % 100000).cast(LongType).as("total_samples"))
    plantedWalk(params, "doc_id BIGINT, sample_rate INT, channels INT, bps INT, " +
        "total_samples BIGINT, duration_ms BIGINT") { r =>
      val header = flacHeader(r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))
      val (rate, ch, bps, total) = planted("FLAC", r.getLong(0))(parseFlacHeader(header))
      Row(r.getLong(0), rate, ch, bps, total, total * 1000 / rate)
    }
  }

  /** Build a REAL Exif APP1 segment inside a minimal JPEG: SOI, APP1
    * ("Exif\0\0" + TIFF header in the REQUESTED byte order + IFD0 with
    * Orientation/PixelXDimension/PixelYDimension entries), EOI. SHORT
    * values are left-justified in their 4-byte field per the TIFF
    * spec — the byte-order-dependent detail the parser must honor. */
  private[graft] def exifJpeg(littleEndian: Boolean, orientation: Int,
      pixX: Int, pixY: Int): Array[Byte] = {
    val le = littleEndian
    val tiff = new Writer().ascii(if (le) "II" else "MM")
      .u16(42, le)
      .u32(8, le) // IFD0 right after the header
      .u16(3, le) // entry count
      // entries must be tag-sorted: 0x0112 < 0xA002 < 0xA003
      .u16(0x0112, le).u16(3, le).u32(1, le) // Orientation SHORT
      .u16(orientation, le).u16(0, le)      // left-justified value
      .u16(0xA002, le).u16(4, le).u32(1, le).u32(pixX, le) // LONG
      .u16(0xA003, le).u16(4, le).u32(1, le).u32(pixY, le) // LONG
      .u32(0, le) // no next IFD
      .toArray
    new Writer()
      .u8(0xFF).u8(0xD8) // SOI
      .u8(0xFF).u8(0xE1) // APP1
      .u16be(6 + tiff.length + 2) // segment length incl. itself (BE)
      .ascii("Exif").zeros(2).bytes(tiff)
      .u8(0xFF).u8(0xD9) // EOI
      .toArray
  }

  /** Parse Exif out of a JPEG marker stream: find APP1/"Exif", read
    * the TIFF header's byte order, walk IFD0, return
    * (byteOrder, orientation, pixX, pixY) — SHORT reads honor the
    * left-justified value-field rule. */
  private[graft] def parseExif(bytes: Array[Byte]): Option[(String, Int, Int, Int)] =
    walk(bytes) { r =>
      // the IFD0 entries of the TIFF header at t0, in its own byte order
      def tiff(t0: Long): (String, Int, Int, Int) = {
        val bo = r.ascii(t0, 2)
        need(bo == "II" || bo == "MM")
        val le = bo == "II"
        need(r.u16(t0 + 2, le) == 42)
        val ifd = t0 + r.u32(t0 + 4, le)
        var (ori, px, py) = (-1, -1, -1)
        for (e <- 0 until r.u16(ifd, le)) {
          val eo = ifd + 2 + e * 12L
          val vo = eo + 8
          (r.u16(eo, le), r.u16(eo + 2, le)) match { // (tag, type)
            case (0x0112, 3) => ori = r.u16(vo, le) // SHORT, left-justified
            case (0xA002, 4) => px = r.u32(vo, le).toInt
            case (0xA003, 4) => py = r.u32(vo, le).toInt
            case _ =>
          }
        }
        need(ori >= 0 && px >= 0 && py >= 0)
        (bo, ori, px, py)
      }
      need(r.u8(0) == 0xFF && r.u8(1) == 0xD8)
      var i = 2L
      var found = Option.empty[(String, Int, Int, Int)]
      while (found.isEmpty) { // ends at APP1/Exif, or malformed at EOI or the blob's end
        need(r.u8(i) == 0xFF)
        val marker = r.u8(i + 1)
        need(marker != 0xD9) // EOI before APP1
        val segLen = r.u16be(i + 2)
        if (marker == 0xE1 && segLen >= 8 && r.fourcc(i + 4) == "Exif")
          found = Some(tiff(i + 10)) // TIFF header start (skip Exif\0\0)
        else i += 2 + segLen
      }
      found
    }

  /** EXIF orientation + pixel dimensions — the eleventh container
    * leg, and the only one where BYTE ORDER is data-dependent: half
    * the corpus plants "II" TIFF headers, half "MM", and the IFD
    * walker must honor each (including the left-justified SHORT
    * value-field rule). This is the metadata image pipelines actually
    * read before any decode (auto-rotation, thumbnail sizing). */
  val exifMeta: GraftOp = GraftOp(
    "mm_exif_meta",
    s"""WITH m AS (SELECT doc_id, ${Exprs.sqlMd5Long("text")} AS h FROM documents)
       |SELECT doc_id,
       |  CASE WHEN h % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       |  CAST(1 + (h >> 1) % 8 AS INT) AS orientation,
       |  CAST(16 + (h >> 4) % 1024 AS INT) AS pix_x,
       |  CAST(16 + (h >> 14) % 1024 AS INT) AS pix_y
       |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    val h = Exprs.md5Long(col("text"))
    val params = Tables.documents(s, d)
      .select(col("doc_id"),
        (h % 2 === 0).as("le"),
        (lit(1) + shiftright(h, 1) % 8).cast(IntegerType).as("orientation"),
        (lit(16) + shiftright(h, 4) % 1024).cast(IntegerType).as("pix_x"),
        (lit(16) + shiftright(h, 14) % 1024).cast(IntegerType).as("pix_y"))
    plantedWalk(params,
        "doc_id BIGINT, byte_order STRING, orientation INT, pix_x INT, pix_y INT") { r =>
      val jpeg = exifJpeg(r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4))
      val (bo, ori, px, py) = planted("Exif", r.getLong(0))(parseExif(jpeg))
      Row(r.getLong(0), bo, ori, px, py)
    }
  }

  /** Build a RIFF/WEBP container: VP8X extended header (24-bit LE
    * canvas minus-one fields), an optional EXIF chunk, and a VP8L
    * chunk whose lossless bitstream header (0x2f signature + 14-bit
    * minus-one dims) REPEATS the canvas size — the redundancy real
    * demuxers cross-check. Odd-sized chunk payloads get the RIFF pad
    * byte, which no other container leg exercises. */
  private[graft] def syntheticWebp(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 16).toInt
    val h = 8 + ((docId / 16) % 16).toInt
    val hasExif = docId % 3 == 0
    val exifLen = 8 + (docId % 8).toInt
    val vp8lLen = 5 + (docId % 32).toInt
    val riffSize = 4 + 18 + (if (hasExif) 8 + even(exifLen) else 0) + 8 + even(vp8lLen)
    val out = new Writer().ascii("RIFF").u32le(riffSize).ascii("WEBP")
    out.chunk("VP8X", new Writer()
      .u8(if (hasExif) 0x08 else 0x00).zeros(3) // EXIF flag bit, reserved
      .u16le(w - 1).u8((w - 1) >> 16).u16le(h - 1).u8((h - 1) >> 16) // 24-bit canvas
      .toArray)
    if (hasExif) out.chunk("EXIF", Array.tabulate[Byte](exifLen)(i => ((docId + i) % 251).toByte))
    out.chunk("VP8L", new Writer()
      .u8(0x2f) // VP8L signature
      .u32le((w - 1) | ((h - 1) << 14)) // 14-bit minus-one fields, version 0
      .bytes(Array.tabulate[Byte](vp8lLen - 5)(i => ((docId * 7 + 5 + i) % 253).toByte))
      .toArray)
    out.toArray
  }

  /** Walk a RIFF/WEBP container: verify the RIFF magic, the WEBP form
    * type, and that the declared RIFF size is exactly file−8; iterate
    * chunks fourCC-first honoring the odd-payload pad byte; require a
    * leading VP8X, read its 24-bit LE canvas; on VP8L verify the 0x2f
    * signature and that the bitstream's 14-bit dims REPEAT the canvas.
    * Returns (width, height, nChunks, hasExif, payloadBytes); None on
    * any structural lie (bad magic, size mismatch, truncation,
    * canvas/bitstream disagreement, an EXIF chunk the VP8X flag does
    * not announce or an announced one missing). */
  private[graft] def parseWebpMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Boolean, Long)] =
    walk(bytes) { r =>
      need(r.fourcc(0) == "RIFF" && r.u32le(4) == r.length - 8 && r.fourcc(8) == "WEBP")
      var i = 12L
      var (w, h) = (-1, -1)
      var nChunks = 0
      var hasExif = false
      var sawExif = false
      var payload = 0L
      while (i < r.length) {
        val len = r.u32le(i + 4)
        r.at(i + 8, len) // the payload must fit
        r.fourcc(i) match {
          case "VP8X" =>
            need(nChunks == 0 && len == 10) // must lead, fixed size
            hasExif = (r.u8(i + 8) & 0x08) != 0
            w = 1 + (r.u16le(i + 12) | r.u8(i + 14) << 16)
            h = 1 + (r.u16le(i + 15) | r.u8(i + 17) << 16)
          case "VP8L" =>
            need(len >= 5 && r.u8(i + 8) == 0x2f)
            val dims = r.u32le(i + 9)
            need(1 + (dims & 0x3fff) == w && 1 + ((dims >> 14) & 0x3fff) == h)
          case "EXIF" => sawExif = true // must match the VP8X flag
          case _ => malformed // unknown chunk for this corpus
        }
        nChunks += 1
        payload += len
        i += 8 + even(len)
      }
      if (w < 0 || nChunks < 2 || sawExif != hasExif) None
      else Some((w, h, nChunks, hasExif, payload))
    }

  /** WebP/RIFF structural metadata — thirteenth container leg, and the
    * only RIFF-chunked one (WAV shares the family but mm_wav_meta
    * walks a flat fmt/data layout): VP8X extended header, conditional
    * EXIF chunk driven by the id rule, VP8L lossless bitstream whose
    * 14-bit dims must REPEAT the canvas (the cross-check real demuxers
    * run), and odd-payload pad bytes that the size arithmetic must
    * honor. The oracle predicts dims, chunk count, and total payload
    * bytes from the same id math — hash-match proves the build→walk
    * round trip including the pad rule. Build+walk in one
    * mapPartitions, zero shuffle. */
  val webpMeta: GraftOp = GraftOp(
    "mm_webp_meta",
    """SELECT doc_id,
      |  CAST(8 + doc_id % 16 AS INT) AS width,
      |  CAST(8 + (doc_id // 16) % 16 AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT) AS n_chunks,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS has_exif,
      |  CAST(10 + CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 8 ELSE 0 END
      |       + 5 + doc_id % 32 AS BIGINT) AS payload_bytes
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, width INT, height INT, n_chunks INT, has_exif INT, " +
        "payload_bytes BIGINT") { r =>
      val docId = r.getLong(0)
      val (w, h, nc, exif, payload) = planted("WebP", docId)(parseWebpMeta(syntheticWebp(docId)))
      Row(docId, w, h, nc, if (exif) 1 else 0, payload)
    }
  }

  /** Ogg page CRC: polynomial 0x04C11DB7, MSB-first (NON-reflected),
    * init 0, no final xor — deliberately different from zlib's
    * reflected CRC-32, which is why real demuxers can't reuse their
    * zlib table here. Computed over the page with the CRC field
    * zeroed. */
  private[graft] def oggCrc(bytes: Array[Byte]): Int = {
    var crc = 0
    var i = 0
    while (i < bytes.length) {
      crc = crc ^ ((bytes(i) & 0xff) << 24)
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04c11db7 else crc << 1
        b += 1
      }
      i += 1
    }
    crc
  }

  /** Build a 2-page Ogg stream: a BOS page carrying one small packet
    * and an EOS page whose packet length crosses the 255-byte lacing
    * boundary — the segment-table encoding (⌊L/255⌋ 255-values + a
    * (L mod 255) terminator, INCLUDING the 0 terminator when L is an
    * exact multiple of 255, which docId%300==55 plants) is the one
    * framing rule no other container leg exercises. Each page carries
    * the real Ogg CRC; the final granule position repeats the total
    * packet byte count (this corpus's cross-check, in the VP8L-dims
    * spirit). */
  private[graft] def syntheticOgg(docId: Long): Array[Byte] = {
    val p1 = 30 + (docId % 10).toInt
    val p2 = 200 + (docId % 300).toInt
    val serial = (docId % 1000 + 1).toInt
    val out = new Writer()
    def page(headerType: Int, granule: Long, seq: Int, packetLen: Int): Unit = {
      // 255s, then the terminator (0 when packetLen % 255 == 0)
      val lacing = Array.fill[Byte](packetLen / 255)(-1) :+ (packetLen % 255).toByte
      val head = new Writer().ascii("OggS").u8(0).u8(headerType).u64le(granule)
        .u32le(serial).u32le(seq).toArray
      val body = new Writer().u8(lacing.length).bytes(lacing)
        .bytes(Array.tabulate[Byte](packetLen)(i => ((docId * 11 + i) % 251).toByte)).toArray
      val crc = oggCrc(head ++ new Array[Byte](4) ++ body) // over the page, CRC field zeroed
      out.bytes(head).u32le(crc).bytes(body)
    }
    page(0x02, 0L, 0, p1)                   // BOS
    page(0x04, (p1 + p2).toLong, 1, p2)     // EOS, granule = total bytes
    out.toArray
  }

  /** Walk an Ogg stream: verify every page's capture pattern, version
    * 0, the recomputed CRC (field zeroed), lacing-sum-vs-available
    * truncation, BOS exactly on the first page, EOS exactly on the
    * last, a constant serial, and gapless sequence numbers; count
    * packets by lacing TERMINATORS (values < 255 — a 255 continues
    * the packet), and require the final granule to repeat the total
    * packet byte count. Returns (nPages, nPackets, serial,
    * payloadBytes, granule); None on any structural lie. */
  private[graft] def parseOggMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Long)] =
    walk(bytes) { r =>
      var i = 0L
      var nPages = 0
      var nPackets = 0
      var serial = -1L
      var payload = 0L
      var granule = -1L
      var sawEos = false
      while (i < r.length) {
        need(!sawEos) // trailing bytes after the EOS page
        need(r.fourcc(i) == "OggS" && r.u8(i + 4) == 0) // stream structure version 0
        val headerType = r.u8(i + 5)
        val ser = r.u32le(i + 14)
        val laces = (0 until r.u8(i + 26)).map(s => r.u8(i + 27 + s))
        val bodyLen = laces.sum
        val pageLen = 27 + laces.length + bodyLen
        // CRC check: recompute with the CRC field zeroed
        val page = java.util.Arrays.copyOfRange(bytes, r.at(i, pageLen), (i + pageLen).toInt)
        java.util.Arrays.fill(page, 22, 26, 0.toByte)
        need(oggCrc(page) == r.u32le(i + 22).toInt)
        if (nPages == 0) {
          need((headerType & 0x02) != 0) // first page must be BOS
          serial = ser
        } else {
          need((headerType & 0x02) == 0) // BOS only leads
          need(ser == serial)            // single logical stream
        }
        need(r.u32le(i + 18) == nPages) // gapless page sequence
        if ((headerType & 0x04) != 0) sawEos = true
        nPages += 1
        nPackets += laces.count(_ < 255) // a 255 continues the packet
        payload += bodyLen
        granule = r.u64le(i + 6)
        i += pageLen
      }
      if (nPages == 0 || !sawEos) None
      else if (granule != payload) None // corpus rule: granule repeats bytes
      else Some((nPages, nPackets, serial.toInt, payload, granule))
    }

  /** Ogg page walk — fourteenth container leg, and the only one
    * exercising LACING-VALUE packet framing (255-continuation bytes
    * with an explicit terminator, including the 0-terminator for
    * exact multiples) and a NON-reflected CRC-32 the zlib table
    * cannot serve. The oracle replays page count, packet count,
    * serial, payload bytes, and the granule cross-check analytically
    * from the id rule; the walker rejects bad magic, CRC lies, lacing
    * truncation, sequence gaps, misplaced BOS/EOS, and
    * granule/byte-count disagreement (spec-pinned). Build+walk in one
    * mapPartitions, zero shuffle. */
  val oggMeta: GraftOp = GraftOp(
    "mm_ogg_meta",
    """SELECT doc_id,
      |  CAST(2 AS INT) AS n_pages,
      |  CAST(2 AS INT) AS n_packets,
      |  CAST(doc_id % 1000 + 1 AS INT) AS serial,
      |  CAST(230 + doc_id % 10 + doc_id % 300 AS BIGINT) AS payload_bytes,
      |  CAST(230 + doc_id % 10 + doc_id % 300 AS BIGINT) AS granule
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, n_pages INT, n_packets INT, serial INT, " +
        "payload_bytes BIGINT, granule BIGINT") { r =>
      val docId = r.getLong(0)
      val (np, nk, ser, payload, granule) = planted("Ogg", docId)(parseOggMeta(syntheticOgg(docId)))
      Row(docId, np, nk, ser, payload, granule)
    }
  }

  /** Build a minimal AVI: RIFF 'AVI ' with a LIST('hdrl'){avih} header,
    * a LIST('movi') of '00dc' frame chunks (odd payload sizes exercise
    * the RIFF pad rule inside a NESTED list), and an idx1 index whose
    * entries must agree one-to-one with the walked frames — the
    * index-vs-data cross-check no other container leg has. */
  private[graft] def syntheticAvi(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 32).toInt
    val h = 16 + ((docId / 32) % 32).toInt
    val nf = 2 + (docId % 5).toInt
    val uspf = 33333 + (docId % 1000).toInt
    val frameLens = Array.tabulate(nf)(i => 5 + ((docId + i) % 9).toInt)
    val frameChunks = frameLens.map(l => 8 + even(l).toInt)
    val moviPayload = 4 + frameChunks.sum
    val riffSize = 4 + (8 + 68) + (8 + moviPayload) + 8 + 16 * nf
    val out = new Writer().ascii("RIFF").u32le(riffSize).ascii("AVI ")
    // LIST hdrl { avih(56): µs/frame @0, total frames @16, width @32, height @36 }
    out.ascii("LIST").u32le(68).ascii("hdrl")
      .chunk("avih", new Writer().u32le(uspf).zeros(12).u32le(nf).zeros(12)
        .u32le(w).u32le(h).zeros(16).toArray)
    // LIST movi { nf x 00dc }
    out.ascii("LIST").u32le(moviPayload).ascii("movi")
    frameLens.zipWithIndex.foreach { case (l, i) =>
      out.chunk("00dc", Array.tabulate[Byte](l)(j => ((docId * 13 + i * 7 + j) % 251).toByte))
    }
    // idx1: offsets relative to the 'movi' fourcc
    out.ascii("idx1").u32le(16 * nf)
    frameLens.indices.foreach { i =>
      out.ascii("00dc").u32le(0x10).u32le(4 + frameChunks.take(i).sum).u32le(frameLens(i))
    }
    out.toArray
  }

  /** Walk an AVI container: RIFF magic + 'AVI ' form type + declared
    * size == file−8; LIST('hdrl') must lead and carry a 56-byte avih
    * (µs/frame, total frames, width, height at their fixed offsets);
    * LIST('movi') frames are counted and summed honoring the odd-pad
    * rule; idx1 must exist with exactly one entry per walked frame,
    * each entry's ckid/offset/size matching the frame it indexes.
    * Returns (width, height, nFrames, usPerFrame, payloadBytes); None
    * on any structural lie (bad magic, size lie, truncation, missing
    * header, frame-count or index disagreement). */
  private[graft] def parseAviMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Long)] =
    walk(bytes) { r =>
      need(r.fourcc(0) == "RIFF" && r.fourcc(8) == "AVI " && r.u32le(4) == r.length - 8)
      var i = 12L
      var w = -1; var h = -1; var nfHdr = -1L; var uspf = -1
      var payload = 0L
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (offset-from-movi, size)
      var sawIdx1 = false
      var idxOk = true
      while (i + 8 <= r.length) {
        val sz = r.u32le(i + 4)
        val end = i + 8 + sz
        need(end <= r.length)
        r.fourcc(i) match {
          case "LIST" if sz >= 4 && r.fourcc(i + 8) == "hdrl" =>
            // first subchunk must be the 56-byte avih
            need(sz >= 4 + 8 + 56 && r.fourcc(i + 12) == "avih" && r.u32le(i + 16) == 56)
            uspf = r.u32le(i + 20).toInt; nfHdr = r.u32le(i + 36)
            w = r.u32le(i + 52).toInt; h = r.u32le(i + 56).toInt
          case "LIST" if sz >= 4 && r.fourcc(i + 8) == "movi" =>
            var j = i + 12
            while (j + 8 <= end) {
              need(r.fourcc(j) == "00dc")
              val fl = r.u32le(j + 4)
              need(j + 8 + fl <= end)
              frames += ((j - (i + 8), fl))
              payload += fl
              j += 8 + even(fl)
            }
            need(j == end)
          case "idx1" =>
            need(sz % 16 == 0)
            sawIdx1 = true
            if (sz / 16 != frames.length) idxOk = false
            var e = 0
            while (e < sz / 16 && idxOk) {
              val o = i + 8 + e * 16L
              if (r.fourcc(o) != "00dc" || (r.u32le(o + 4) & 0x10) == 0 ||
                r.u32le(o + 8) != frames(e)._1 || r.u32le(o + 12) != frames(e)._2) idxOk = false
              e += 1
            }
          case _ => malformed
        }
        i += 8 + even(sz)
      }
      need(i == r.length && w >= 0 && nfHdr == frames.length && sawIdx1 && idxOk)
      Some((w, h, frames.length, uspf, payload))
    }

  /** AVI / RIFF-AVI walk — fifteenth container leg: the only one with
    * a NESTED LIST hierarchy and an index chunk (idx1) that must agree
    * entry-by-entry with the data it indexes — the header-vs-payload
    * cross-check a video ingest pipeline runs before trusting a
    * container's own frame count. The oracle replays width, height,
    * frame count, µs/frame, and the summed frame bytes analytically
    * from the id rule; the walker rejects bad magic, size lies,
    * truncation, and any index/data disagreement (spec-pinned).
    * Build+walk in one mapPartitions pass, zero shuffle. */
  val aviMeta: GraftOp = GraftOp(
    "mm_avi_meta",
    """SELECT doc_id,
      |  CAST(16 + doc_id % 32 AS INT) AS width,
      |  CAST(16 + (doc_id // 32) % 32 AS INT) AS height,
      |  CAST(2 + doc_id % 5 AS INT) AS n_frames,
      |  CAST(33333 + doc_id % 1000 AS INT) AS us_per_frame,
      |  CAST(list_sum(list_transform(range(2 + doc_id % 5),
      |    i -> 5 + (doc_id + i) % 9)) AS BIGINT) AS payload_bytes
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, width INT, height INT, n_frames INT, us_per_frame INT, " +
        "payload_bytes BIGINT") { r =>
      val docId = r.getLong(0)
      val (w, h, nf, uspf, payload) = planted("AVI", docId)(parseAviMeta(syntheticAvi(docId)))
      Row(docId, w, h, nf, uspf, payload)
    }
  }

  /** Minimal multi-image ICO — the DIRECTORY-of-offsets leg, whose
    * cross-check is that every directory entry's offset/length tiles the
    * file exactly (the multi-image sibling of AVI's idx1-vs-movi check):
    * ICONDIR(6) + n×ICONDIRENTRY(16) + contiguous fake image payloads.
    * Entry i: square side 16·2^((docId+i) mod 3) (sides stay ≤64), 32
    * bpp, payload 40 + 4·side bytes. */
  private[graft] def syntheticIco(docId: Long): Array[Byte] = {
    val n = 1 + (docId % 4).toInt
    val sides = Array.tabulate(n)(i => 16 << ((docId + i) % 3).toInt)
    val lens = sides.map(s => 40 + 4 * s)
    val out = new Writer().u16le(0).u16le(1).u16le(n) // reserved, type=icon, count
    var off = 6 + 16 * n
    sides.indices.foreach { i =>
      out.u8(sides(i)).u8(sides(i)) // width, height
        .u8(0).u8(0)                 // palette, reserved
        .u16le(1).u16le(32)          // planes, bpp
        .u32le(lens(i)).u32le(off)
      off += lens(i)
    }
    sides.indices.foreach { i =>
      out.bytes(Array.tabulate[Byte](lens(i))(j => ((docId * 17 + i * 11 + j) % 251).toByte))
    }
    out.toArray
  }

  /** Walk an ICO directory → (nImages, maxSide, totalImageBytes);
    * None on any structural lie: bad magic/type, zero entries,
    * non-zero reserved fields, non-contiguous or out-of-file payload
    * offsets, trailing bytes. */
  private[graft] def parseIcoMeta(bytes: Array[Byte]): Option[(Int, Int, Long)] =
    walk(bytes) { r =>
      need(r.u16le(0) == 0 && r.u16le(2) == 1)
      val n = r.u16le(4)
      need(n >= 1)
      var expectOff = 6L + 16 * n
      var maxSide = 0
      var total = 0L
      for (i <- 0 until n) {
        val e = 6 + 16 * i
        val side = r.u8(e)
        need(side == r.u8(e + 1)) // non-square lie
        need(r.u8(e + 3) == 0)    // reserved
        need(r.u16le(e + 4) == 1) // planes
        need(r.u32le(e + 12) == expectOff) // directory must tile the file
        val len = r.u32le(e + 8)
        expectOff += len
        total += len
        maxSide = maxSide max (if (side == 0) 256 else side)
      }
      need(expectOff == r.length) // trailing bytes
      Some((n, maxSide, total))
    }

  /** ICO directory walk — the offset-directory format: the walker
    * proves the n ICONDIRENTRY records tile the payload region
    * exactly (offset chain + total length), the analytic oracle
    * replays count, max side and payload bytes from the id rule by
    * expanding entries with a bounded generate_series. */
  val icoMeta: GraftOp = GraftOp(
    "mm_ico_meta",
    """WITH e AS (
      |  SELECT doc_id, i.i AS i,
      |    CASE (doc_id + i.i) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS side
      |  FROM documents, generate_series(0, 3) i(i)
      |  WHERE i.i < 1 + doc_id % 4)
      |SELECT doc_id,
      |  CAST(count(*) AS INT) AS n_images,
      |  CAST(max(side) AS INT) AS max_side,
      |  CAST(sum(40 + 4 * side) AS BIGINT) AS total_image_bytes
      |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, n_images INT, max_side INT, total_image_bytes BIGINT") { r =>
      val docId = r.getLong(0)
      val (n, side, total) = planted("ICO", docId)(parseIcoMeta(syntheticIco(docId)))
      Row(docId, n, side, total)
    }
  }

  private val AiffRates = Array(8000, 11025, 22050, 44100)

  /** Minimal AIFF — the big-endian IFF leg, and the only header that
    * carries an 80-bit IEEE-754 EXTENDED float (the sample rate): FORM/
    * AIFF + COMM(18) + SSND carrying frames×channels×bytes of
    * deterministic samples (odd totals exercise the IFF pad rule). */
  private[graft] def syntheticAiff(docId: Long): Array[Byte] = {
    val channels = 1 + (docId % 2).toInt
    val rate = AiffRates((docId % 4).toInt)
    val frames = 100 + (docId % 50).toInt
    val bits = if ((docId / 4) % 2 == 0) 8 else 16
    val dataLen = frames * channels * (bits / 8)
    val ssndChunk = 8 + 8 + even(dataLen) // header + offset/block + data + pad
    val formSize = 4 + (8 + 18) + ssndChunk
    // 80-bit extended float: 1-bit sign, 15-bit exponent (bias 16383),
    // 64-bit mantissa with EXPLICIT leading 1
    val p = 63 - java.lang.Long.numberOfLeadingZeros(rate.toLong)
    new Writer().ascii("FORM").u32be(formSize).ascii("AIFF")
      .ascii("COMM").u32be(18)
      .u16be(channels).u32be(frames).u16be(bits)
      .u16be(16383 + p).u64be(rate.toLong << (63 - p))
      .ascii("SSND").u32be(8 + dataLen)
      .u32be(0).u32be(0) // offset, block size
      .bytes(Array.tabulate[Byte](dataLen)(j => ((docId * 7 + j) % 251).toByte))
      .pad(dataLen)
      .toArray
  }

  /** Walk an AIFF FORM → (channels, sampleRate, nFrames, sampleBits);
    * the 80-bit rate decodes with integer shifts only. None on bad
    * magic, short/oversized chunks, an unnormalized or fractional
    * rate, SSND/COMM size lies, missing pad, or trailing bytes. */
  private[graft] def parseAiffMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] =
    walk(bytes) { r =>
      need(r.fourcc(0) == "FORM" && r.u32be(4) == r.length - 8L && r.fourcc(8) == "AIFF")
      var i = 12L
      var comm = Option.empty[(Int, Int, Int, Int)]
      var ssndData = -1L
      while (i < r.length) {
        val len = r.u32be(i + 4)
        val end = i + 8 + even(len) // IFF chunks are word-aligned
        need(end <= r.length)
        r.fourcc(i) match {
          case "COMM" =>
            need(len == 18 && comm.isEmpty)
            val exp = r.u16be(i + 16)
            val mant = r.u64be(i + 18)
            need((exp & 0x8000) == 0) // negative rate
            need(mant < 0)            // MSB clear = unnormalized
            val shift = 16383 + 63 - exp
            need(shift >= 0 && shift <= 63)
            need(shift == 0 || (mant << (64 - shift)) == 0) // fractional
            val rate = mant >>> shift
            need(rate <= Int.MaxValue)
            comm = Some((r.u16be(i + 8), rate.toInt, r.u32be(i + 10).toInt, r.u16be(i + 14)))
          case "SSND" =>
            need(ssndData < 0 && len >= 8)
            need(r.u32be(i + 8) == 0 && r.u32be(i + 12) == 0) // offset/block
            ssndData = len - 8
          case _ => malformed // corpus plants only COMM+SSND
        }
        i = end
      }
      comm.filter { case (channels, _, frames, bits) =>
        ssndData >= 0 && ssndData == frames.toLong * channels * (bits / 8)
      }
    }

  /** AIFF COMM/SSND walk — the big-endian IFF leg, and the only
    * header field in the corpus stored as an 80-bit extended float
    * (the sample rate): the walker decodes it with integer shifts and
    * cross-checks SSND's payload against frames×channels×bytes; the
    * oracle replays everything (including duration micros via exact
    * integral division) from the id rule. */
  val aiffMeta: GraftOp = GraftOp(
    "mm_aiff_meta",
    """SELECT doc_id,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
      |       WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
      |  CAST(100 + doc_id % 50 AS INT) AS n_frames,
      |  CAST(CASE WHEN (doc_id // 4) % 2 = 0 THEN 8 ELSE 16 END AS INT) AS sample_bits,
      |  CAST((100 + doc_id % 50) * 1000000
      |    // (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
      |        WHEN 2 THEN 22050 ELSE 44100 END) AS BIGINT) AS duration_micros
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src, "doc_id BIGINT, channels INT, sample_rate INT, n_frames INT, " +
        "sample_bits INT, duration_micros BIGINT") { r =>
      val docId = r.getLong(0)
      val (ch, rate, frames, bits) = planted("AIFF", docId)(parseAiffMeta(syntheticAiff(docId)))
      Row(docId, ch, rate, frames, bits, frames.toLong * 1000000L / rate)
    }
  }

  /** Minimal SRT: n sequential cues, 200 ms gaps, per-cue duration
    * 800 + ((docId+i) mod 7)·100 ms, text "cue i doc <id>". */
  private[graft] def syntheticSrt(docId: Long): String = {
    val n = 2 + (docId % 4).toInt
    val start0 = 500 + (docId % 10).toInt * 10
    def ts(ms: Long): String = {
      val h = ms / 3600000; val m = (ms / 60000) % 60
      val s = (ms / 1000) % 60; val f = ms % 1000
      f"$h%02d:$m%02d:$s%02d,$f%03d"
    }
    val sb = new StringBuilder
    var t = start0.toLong
    var i = 0
    while (i < n) {
      val dur = 800 + ((docId + i) % 7) * 100
      sb.append(i + 1).append('\n')
      sb.append(ts(t)).append(" --> ").append(ts(t + dur)).append('\n')
      sb.append(s"cue $i doc $docId").append('\n')
      sb.append('\n')
      t += dur + 200
      i += 1
    }
    sb.toString
  }

  private val SrtTs = java.util.regex.Pattern.compile(
    "(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) --> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})")

  /** Walk an SRT document → (nCues, totalDurationMs, spanMs,
    * textChars); None on non-sequential indices, malformed or
    * reversed timestamps, overlapping cues, missing separators, or
    * trailing garbage. */
  private[graft] def parseSrtMeta(srt: String): Option[(Int, Long, Long, Long)] = {
    val lines = srt.split("\n", -1)
    var i = 0
    var cue = 0
    var prevEnd = -1L
    var firstStart = -1L
    var lastEnd = -1L
    var totalDur = 0L
    var chars = 0L
    while (i < lines.length && lines(i).nonEmpty) {
      if (lines(i) != (cue + 1).toString) return None // sequential indices
      if (i + 2 >= lines.length) return None
      val m = SrtTs.matcher(lines(i + 1))
      if (!m.matches()) return None
      def ms(o: Int): Long = m.group(o).toLong * 3600000 + m.group(o + 1).toLong * 60000 +
        m.group(o + 2).toLong * 1000 + m.group(o + 3).toLong
      val start = ms(1); val end = ms(5)
      if (end <= start) return None      // reversed / empty cue
      if (start < prevEnd) return None   // overlap
      if (firstStart < 0) firstStart = start
      prevEnd = end; lastEnd = end
      totalDur += end - start
      var j = i + 2
      var sawText = false
      while (j < lines.length && lines(j).nonEmpty) {
        chars += lines(j).length; sawText = true; j += 1
      }
      if (!sawText) return None          // cue without text
      if (j >= lines.length) return None // missing terminating blank line
      i = j + 1
      cue += 1
    }
    while (i < lines.length) { if (lines(i).nonEmpty) return None; i += 1 } // trailing junk
    if (cue == 0) return None
    Some((cue, totalDur, lastEnd - firstStart, chars))
  }

  /** SRT subtitle walk — the CAPTION modality a video-training
    * pipeline pairs with mm_mp4_meta/mm_avi_meta (text-format
    * container, but a container all the same: indices, timecode
    * pairs, separators). The walker enforces sequential cue indices,
    * well-formed HH:MM:SS,mmm timecodes, monotone NON-OVERLAPPING
    * cues and terminating separators; the oracle replays cue count,
    * summed duration, span and text chars analytically from the id
    * rule (per-cue durations via a bounded generate_series, text
    * length via length(CAST(doc_id AS VARCHAR))). */
  val srtMeta: GraftOp = GraftOp(
    "mm_srt_meta",
    """WITH c AS (
      |  SELECT doc_id, i.i AS i, 800 + ((doc_id + i.i) % 7) * 100 AS dur
      |  FROM documents, generate_series(0, 5) i(i)
      |  WHERE i.i < 2 + doc_id % 4)
      |SELECT doc_id,
      |  CAST(count(*) AS INT) AS n_cues,
      |  CAST(sum(dur) AS BIGINT) AS total_duration_ms,
      |  CAST(sum(dur) + 200 * (count(*) - 1) AS BIGINT) AS span_ms,
      |  CAST(count(*) * (10 + length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS text_chars
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"))
    plantedWalk(src,
        "doc_id BIGINT, n_cues INT, total_duration_ms BIGINT, span_ms BIGINT, text_chars BIGINT") { r =>
      val docId = r.getLong(0)
      val (n, dur, span, chars) = planted("SRT", docId)(parseSrtMeta(syntheticSrt(docId)))
      Row(docId, n, dur, span, chars)
    }
  }

  val ops: Seq[GraftOp] = Seq(meta, decode, chunk, sniff, frameSample, wavMeta, imagePhash, imageNearDup, audioEnergy, mp4Meta, jpegMeta, pngChunks, gifMeta, bmpMeta, tarMeta, zipMeta, pdfMeta, containerCensus, mp3Meta, flacMeta, exifMeta, id3Meta, webpMeta, oggMeta, aviMeta, icoMeta, aiffMeta, srtMeta)
}
