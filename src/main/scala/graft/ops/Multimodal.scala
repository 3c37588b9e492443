package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.RkLsh

/** One decoded-media record: dimensions recovered by the real PNG
  * decode, plus exact-integer image features over the decoded pixels. */
final case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    width: Int,
    height: Int,
    px_sum: Long,
    grad_x: Long,
    grad_y: Long,
    px_min: Int,
    px_max: Int,
    n_dark: Long)

/** Multimodal-column plumbing: media (image/audio/video) modeled as an
  * opaque `binary` column plus typed metadata, with decode /
  * feature-extract running batched per partition.
  *
  * Everything here is REAL compute, fully oracle-hash-checked (no
  * stub tier since round 8):
  *
  *  - Format parsers written in this file for the codec-free formats —
  *    mm5 netpbm P5 images, mm6 RIFF/WAVE PCM audio, mm7 yuv4mpeg2
  *    video. These parse the actual on-disk format grammar (headers,
  *    comments, chunk walks, frame markers) and production code can
  *    point them at real payloads unchanged; the corpus has no media,
  *    so each query feeds them deterministic files synthesized around
  *    the document's bytes (which is exactly what makes the
  *    encode→parse→stats composite DuckDB-replayable).
  *  - The JDK's own codec stack (`javax.imageio`: PNG DEFLATE+filters,
  *    JPEG DCT) for the compressed formats — mm2 decode+features, mm4
  *    thumbnail resize, mm9/mm10 decode. PNG losslessness keeps those
  *    composites replayable too; JPEG's lossy leg is bounded by the
  *    spec and oracle-checked on its deterministic projection (mm10).
  *    What remains genuinely environment-blocked is only the non-JDK
  *    codec family (MP3/H.264/WebP).
  *
  * Scale notes: decode is a narrow per-partition map — zero shuffle;
  * at 100 TB you size `spark.sql.files.maxPartitionBytes` so one batch
  * of decoded frames fits in executor memory, and the same code runs
  * unchanged.
  */
object Multimodal {

  /** documents + the opaque binary payload column. */
  def withBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("media", col("text").cast("binary"))

  private val mm1Oracle =
    // only engine-neutral metadata is compared; content hashing over the
    // same binary column is covered by dd1 + the ScalaTest specs
    "SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes FROM documents"

  /** MM1 — typed metadata over the binary column (oracle-checked). */
  def mm1Meta(spark: SparkSession, dir: String): DataFrame =
    withBinary(spark, dir).select(
      col("doc_id"), length(col("media")).cast("long").as("n_bytes"))

  /** Real decode + feature extraction, batched per partition: each
    * payload compresses through the real PNG codec (DEFLATE + filters),
    * decodes back through [[decodeImage]], and the features are
    * classic exact-integer image statistics over the DECODED pixels —
    * total intensity, horizontal/vertical gradient mass (Σ|Δ| along
    * rows / columns: edge-density, the blur/complexity signal image
    * curation filters key on), min/max, and the dark-pixel count.
    * PNG is lossless, so decoded pixels are the document's own bytes
    * and every feature is DuckDB-replayable. */
  private def decodeFeatureBatch(
      batch: Iterator[(Long, Array[Byte])]): Iterator[MediaFeatures] =
    batch.map { case (id, bytes) =>
      val (w, h, px) = decodeImage(encodePng(bytes))
      var sum = 0L; var gx = 0L; var gy = 0L
      var mn = 255; var mx = 0; var dark = 0L
      val n = px.length
      var i = 0
      while (i < n) {
        val v = px(i) & 0xFF
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (v < 128) dark += 1
        if (i % w != w - 1) gx += math.abs((px(i + 1) & 0xFF) - v)
        if (i + w < n) gy += math.abs((px(i + w) & 0xFF) - v)
        i += 1
      }
      MediaFeatures(id, bytes.length.toLong, w, h, sum, gx, gy, mn, mx, dark)
    }

  /** MM2 — REAL per-partition batched decode + feature extraction
    * through the JDK's PNG codec. Every output column (dimensions AND
    * features) is oracle-hash-checked. */
  def mm2DecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src: Dataset[(Long, Array[Byte])] = withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
    src.mapPartitions(decodeFeatureBatch).toDF()
  }

  private val mm2Oracle =
    s"""WITH t AS (SELECT doc_id, octet_length(text::BLOB) AS nb, text,
       |         greatest(octet_length(text::BLOB) // $PGM_W, 1) AS h FROM documents),
       |px AS (SELECT doc_id, nb, h,
       |         list_transform(range(1, $PGM_W * h + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS p
       |       FROM t)
       |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
       |       $PGM_W AS width, CAST(h AS INT) AS height,
       |       CAST(list_sum(p) AS BIGINT) AS px_sum,
       |       CAST(coalesce(list_sum(list_transform(
       |         list_filter(range(1, $PGM_W * h + 1), j -> j % $PGM_W != 0),
       |         j -> abs(p[CAST(j + 1 AS INT)] - p[CAST(j AS INT)]))), 0) AS BIGINT) AS grad_x,
       |       CAST(coalesce(list_sum(list_transform(range(1, $PGM_W * (h - 1) + 1),
       |         j -> abs(p[CAST(j + $PGM_W AS INT)] - p[CAST(j AS INT)]))), 0) AS BIGINT) AS grad_y,
       |       CAST(list_min(p) AS INT) AS px_min,
       |       CAST(list_max(p) AS INT) AS px_max,
       |       CAST(len(list_filter(p, v -> v < 128)) AS BIGINT) AS n_dark
       |FROM px""".stripMargin

  /** Real thumbnail resize, batched per partition: decode through the
    * real PNG codec, then AREA-AVERAGE (the correct downsample filter —
    * what production thumbnailers do, not a stride sample) to a bounded
    * 8×≤8 grid. x shrinks by a fixed factor 2 (16 → 8 columns); y by
    * fy = ⌈h/8⌉ so any document height lands in ≤ 8 rows, the last row
    * averaging a partial cell. Integer arithmetic (cell sum // cell
    * area) end to end, so the thumbnail itself is DuckDB-replayable. */
  private def resizeBatch(
      batch: Iterator[(Long, Array[Byte])]): Iterator[(Long, Int, Int, Int, Int, String)] =
    batch.map { case (id, bytes) =>
      val (w, h, px) = decodeImage(encodePng(bytes))
      val fx = 2
      val tw = w / fx
      val fy = math.max((h + 7) / 8, 1)
      val th = (h + fy - 1) / fy
      val sb = new StringBuilder
      var ty = 0
      while (ty < th) {
        val y0 = ty * fy; val y1 = math.min(y0 + fy, h)
        var tx = 0
        while (tx < tw) {
          var s = 0L
          var y = y0
          while (y < y1) {
            val base = y * w + tx * fx
            s += (px(base) & 0xFF) + (px(base + 1) & 0xFF)
            y += 1
          }
          if (sb.nonEmpty) sb.append(',')
          sb.append((s / (fx.toLong * (y1 - y0))).toInt)
          tx += 1
        }
        ty += 1
      }
      (id, w, h, tw, th, sb.toString)
    }

  /** MM4 — REAL batched thumbnail resize over the binary column
    * (mapPartitions, the JVM analog of a vectorized decode UDF):
    * media → decode → area-average thumbnail + before/after dims. The
    * thumbnail pixels are emitted as a CSV string so the resample
    * itself is oracle-hash-checked, not just its row count. */
  def mm4Resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(resizeBatch)
      .toDF("doc_id", "orig_w", "orig_h", "thumb_w", "thumb_h", "thumb_csv")
  }

  private val mm4Oracle =
    s"""WITH t AS (SELECT doc_id, text,
       |         greatest(octet_length(text::BLOB) // $PGM_W, 1) AS h FROM documents),
       |d AS (SELECT doc_id, h, greatest((h + 7) // 8, 1) AS fy,
       |        list_transform(range(1, $PGM_W * h + 1),
       |          j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS p
       |      FROM t),
       |e AS (SELECT doc_id, h, fy, (h + fy - 1) // fy AS th, p FROM d)
       |SELECT doc_id, $PGM_W AS orig_w, CAST(h AS INT) AS orig_h,
       |       ${PGM_W / 2} AS thumb_w, CAST(th AS INT) AS thumb_h,
       |       array_to_string(list_transform(range(0, th * ${PGM_W / 2}),
       |         c -> CAST(
       |           list_sum(list_transform(
       |             range(0, (least((c // ${PGM_W / 2} + 1) * fy, h)
       |                       - (c // ${PGM_W / 2}) * fy) * 2),
       |             k -> p[CAST(((c // ${PGM_W / 2}) * fy + k // 2) * $PGM_W
       |                        + (c % ${PGM_W / 2}) * 2 + (k % 2) + 1 AS INT)]))
       |           // (2 * (least((c // ${PGM_W / 2} + 1) * fy, h)
       |                   - (c // ${PGM_W / 2}) * fy)) AS VARCHAR)), ',') AS thumb_csv
       |FROM e""".stripMargin

  // `final` without a type annotation = compile-time constant: mm2/mm4's
  // oracle strings sit ABOVE this declaration and would otherwise
  // interpolate the pre-init 0 (object vals initialize in order)
  private final val PGM_W = 16

  /** Synthetic PGM encoder — the stand-in side (the corpus has no real
    * images): wraps a document's utf-8 bytes as a PGM_W-wide 8-bit
    * grayscale P5 image, complete with a comment line the decoder must
    * skip. Truncates to whole rows (every SF's min document is ≥ 44
    * bytes, so h ≥ 2 and no padding path exists to diverge from the
    * oracle). */
  private[graft] def encodePgm(bytes: Array[Byte]): Array[Byte] = {
    val h = math.max(bytes.length / PGM_W, 1)
    val header = s"P5\n# synthetic pgm\n$PGM_W $h\n255\n".getBytes("US-ASCII")
    header ++ java.util.Arrays.copyOf(bytes, PGM_W * h)
  }

  /** ======================= REAL DECODER =======================
    * A complete netpbm P5 parser — PGM is the mainstream image format
    * that needs NO codec library (magic token, '#' comments, arbitrary
    * header whitespace, maxval, then exactly one whitespace byte and
    * w·h raw samples). Unlike mm2/mm4's marked fakes, a production
    * pipeline can point THIS at actual .pgm payloads unchanged;
    * MultimodalSpec parses a hand-built file with comments and odd
    * spacing to prove it is format-general, not corpus-shaped. */
  private[graft] def decodePgm(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    var pos = 0
    def isWs(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def token(): String = {
      var inComment = false
      while (pos < bytes.length && (inComment || isWs(bytes(pos)) || bytes(pos) == '#')) {
        if (inComment) { if (bytes(pos) == '\n') inComment = false }
        else if (bytes(pos) == '#') inComment = true
        pos += 1
      }
      val s = pos
      while (pos < bytes.length && !isWs(bytes(pos))) pos += 1
      new String(bytes, s, pos - s, "US-ASCII")
    }
    val magic = token()
    require(magic == "P5", s"not a binary PGM (magic '$magic')")
    val w = token().toInt; val h = token().toInt; val maxval = token().toInt
    require(maxval > 0 && maxval < 256, s"unsupported maxval $maxval")
    pos += 1 // the single whitespace byte the spec mandates after maxval
    require(bytes.length >= pos + w * h, "truncated pixel data")
    (w, h, maxval, java.util.Arrays.copyOfRange(bytes, pos, pos + w * h))
  }

  /** `(px_sum, px_mean, row0_hash)` of a `w`×`h` 8-bit image: the
    * pixel sum, the mean floored at the 1e-6 grid, and the RK char
    * fold `(h·31 + p) mod 2^40` of the first row — the statistics the
    * mm5/mm8/mm9 oracles recompute in DuckDB. */
  private def pxSummary(px: Array[Byte], w: Int, h: Int): (Long, Double, Long) = {
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += (px(i) & 0xFF); i += 1 }
    var row0 = 0L
    i = 0
    while (i < w) { row0 = (row0 * 31 + (px(i) & 0xFF)) % RkLsh.M40; i += 1 }
    // double division, NOT integer: DuckDB's `/` is double division,
    // so the floor must see the identical IEEE quotient (Exact.intRatio
    // has the same shape — Spark Column `/` is Divide-as-double too)
    (sum, math.floor((sum * 1000000L).toDouble / (w.toLong * h)) / 1e6, row0)
  }

  /** MM5 — REAL image decode: encode each document as a PGM (the
    * synthetic stand-in), then run the real parser per partition and
    * emit exact pixel statistics. Because the pixels are the document's
    * own bytes, the full encode→parse→stats composite is DuckDB-
    * replayable, so the decoder's output is hash-checked end to end —
    * the oracle recomputes dimensions, pixel sum, truncating mean, and
    * the first-row mod-2^40 fold straight from the text. */
  def mm5PgmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, _, px) = decodePgm(encodePgm(payload))
        val (sum, mean, row0) = pxSummary(px, w, h)
        (id, w, h, sum, mean, row0)
      })
      .toDF("doc_id", "width", "height", "px_sum", "px_mean", "row0_hash")
  }

  private val mm5Oracle =
    s"""WITH t AS (SELECT doc_id, text,
       |         greatest(octet_length(text::BLOB) // $PGM_W, 1) AS h FROM documents),
       |px AS (SELECT doc_id, h,
       |         list_transform(range(1, $PGM_W * h + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS p
       |       FROM t)
       |SELECT doc_id, $PGM_W AS width, CAST(h AS INT) AS height,
       |       CAST(list_sum(p) AS BIGINT) AS px_sum,
       |       floor(list_sum(p) * 1000000 / ($PGM_W * h)) / 1000000 AS px_mean,
       |       ${RkLsh.foldSql(s"p[1:$PGM_W]", 31)} AS row0_hash
       |FROM px""".stripMargin

  private val WAV_RATE = 8000

  /** Synthetic WAV encoder — stand-in side (no audio in the corpus):
    * wraps a document's bytes as unsigned 8-bit mono PCM at 8 kHz, a
    * complete RIFF file with a deliberately non-minimal layout (a LIST
    * metadata chunk BEFORE data) so the decoder must actually walk the
    * chunk structure rather than assume fixed offsets. */
  private[graft] def encodeWav(bytes: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(58 + bytes.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(50 + bytes.length)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(WAV_RATE)
      .putInt(WAV_RATE) // byte rate (1 ch × 1 byte)
      .putShort(1) // block align
      .putShort(8) // bits per sample
    bb.put("LIST".getBytes("US-ASCII")).putInt(6)
      .put("INFOxx".getBytes("US-ASCII")) // chunk the parser must skip
    bb.put("data".getBytes("US-ASCII")).putInt(bytes.length).put(bytes)
    bb.array()
  }

  /** ======================= REAL DECODER =======================
    * A real RIFF/WAVE PCM parser (the audio analog of [[decodePgm]] —
    * WAV needs no codec library): validates the RIFF/WAVE container,
    * then WALKS the chunk list honoring each chunk's declared size and
    * word alignment (skipping unknown chunks like LIST/INFO) to find
    * `fmt ` and `data`. Returns (sampleRate, channels, bitsPerSample,
    * samples). Production code points this at real PCM .wav payloads
    * unchanged; MultimodalSpec feeds it a hand-built file with an odd-
    * sized chunk to prove the alignment walk is real. */
  private[graft] def decodeWav(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII") }
    require(tag() == "RIFF", "not a RIFF file")
    bb.getInt // declared riff size
    require(tag() == "WAVE", "not a WAVE file")
    var rate = -1; var channels = -1; var bits = -1
    var data: Array[Byte] = null
    while (bb.remaining() >= 8 && (data == null || rate < 0)) {
      val id = tag(); val size = bb.getInt
      id match {
        case "fmt " =>
          val fmtEnd = bb.position() + size
          val codec = bb.getShort
          require(codec == 1, s"only PCM supported, got codec $codec")
          channels = bb.getShort.toInt
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          bits = bb.getShort.toInt
          bb.position(fmtEnd)
        case "data" =>
          data = new Array[Byte](size); bb.get(data)
          // odd-size data chunks carry the same one-byte alignment pad
          // as any other chunk — without the skip the walk misaligns
          // for files where fmt FOLLOWS data
          if ((size & 1) == 1 && bb.remaining() > 0) bb.get()
        case _ =>
          bb.position(bb.position() + size + (size & 1)) // word-aligned skip
      }
    }
    require(rate > 0 && data != null, "missing fmt/data chunk")
    (rate, channels, bits, data)
  }

  /** Sample statistics honoring the DECLARED layout (bits × channels),
    * not an assumed 8-bit mono: 8-bit PCM is unsigned, 16-bit PCM is
    * signed little-endian; other widths fail loudly like the codec
    * check. Returns (framesPerChannel, durationMs, peakToPeak,
    * meanAmp) — amplitude stats run over every sample value across
    * channels; duration is frames/rate. For the synthetic 8-bit-mono
    * corpus this is byte-for-byte the old arithmetic, so the oracle is
    * unchanged. `private[graft]` so the spec can feed it 16-bit-stereo
    * layouts mm6's corpus never produces. */
  private[graft] def wavStats(rate: Int, channels: Int, bits: Int,
      raw: Array[Byte]): (Long, Double, Int, Double) = {
    require(bits == 8 || bits == 16, s"unsupported bits/sample: $bits")
    require(channels >= 1, s"invalid channel count: $channels")
    val bytesPer = bits / 8
    require(raw.length % (bytesPer * channels) == 0,
      s"data chunk ${raw.length} B is not whole ${channels}ch ${bits}-bit frames")
    val nFrames = raw.length / (bytesPer * channels)
    var sum = 0L; var lo = Int.MaxValue; var hi = Int.MinValue
    var i = 0
    while (i < raw.length) {
      val v =
        if (bits == 8) raw(i) & 0xFF
        else (raw(i) & 0xFF) | (raw(i + 1).toInt << 8) // signed 16-bit LE
      sum += v; if (v < lo) lo = v; if (v > hi) hi = v
      i += bytesPer
    }
    val nVals = raw.length / bytesPer // sample values across channels
    // duration in exact milliseconds (frames·1000/rate); double
    // division on both engines, same IEEE quotient (mm5 note)
    (nFrames.toLong,
      math.floor(nFrames * 1000000L.toDouble / rate) / 1e3,
      hi - lo,
      math.floor((sum * 1000000L).toDouble / nVals) / 1e6)
  }

  /** MM6 — REAL audio decode: encode each document as an 8-bit PCM WAV
    * (the synthetic stand-in), run the real RIFF parser per partition,
    * and emit format fields + exact sample statistics (duration,
    * peak-to-peak amplitude, integer-scaled mean) via [[wavStats]],
    * which honors the parsed bits/channels rather than assuming the
    * synthetic layout. As with mm5, the samples are the document's own
    * bytes, so the encode→parse→stats composite is DuckDB-replayable
    * and the decoder output is hash-checked end to end. */
  def mm6WavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (rate, channels, bits, s) = decodeWav(encodeWav(payload))
        val (n, durMs, p2p, mean) = wavStats(rate, channels, bits, s)
        (id, rate, channels, bits, n, durMs, p2p, mean)
      })
      .toDF("doc_id", "sample_rate", "channels", "bits", "n_samples",
        "duration_ms", "peak_to_peak", "mean_amp")
  }

  private val mm6Oracle =
    s"""WITH t AS (SELECT doc_id, text,
       |         list_transform(range(1, octet_length(text::BLOB) + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS s
       |       FROM documents)
       |SELECT doc_id, $WAV_RATE AS sample_rate, 1 AS channels, 8 AS bits,
       |       CAST(len(s) AS BIGINT) AS n_samples,
       |       floor(len(s) * 1000000 / $WAV_RATE) / 1000 AS duration_ms,
       |       CAST(list_max(s) - list_min(s) AS INT) AS peak_to_peak,
       |       floor(list_sum(s) * 1000000 / len(s)) / 1000000 AS mean_amp
       |FROM t""".stripMargin

  private val Y4M_W = 4
  private val Y4M_H = 4
  private val Y4M_FRAME = Y4M_W * Y4M_H // mono (C400): Y plane only

  /** Synthetic Y4M encoder — stand-in side (no video in the corpus):
    * wraps a document's bytes as 4×4 monochrome (C400) frames at 25
    * fps, whole frames only. Y4M is the codec-free video container:
    * an ASCII parameter header, then `FRAME` markers with raw planar
    * samples — the video analog of PGM/WAV. */
  private[graft] def encodeY4m(bytes: Array[Byte]): Array[Byte] = {
    val frames = math.max(bytes.length / Y4M_FRAME, 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$Y4M_W H$Y4M_H F25:1 Ip A1:1 C400\n".getBytes("US-ASCII"))
    val px = java.util.Arrays.copyOf(bytes, frames * Y4M_FRAME)
    for (f <- 0 until frames) {
      // a parameter-bearing FRAME marker: parsers must accept params
      out.write((if (f == 0) "FRAME Xsynthetic\n" else "FRAME\n").getBytes("US-ASCII"))
      out.write(px, f * Y4M_FRAME, Y4M_FRAME)
    }
    out.toByteArray
  }

  /** ======================= REAL DECODER =======================
    * A real yuv4mpeg2 parser (video analog of [[decodePgm]]/
    * [[decodeWav]] — Y4M needs no codec): validates the magic, parses
    * the tagged parameter list (W/H/F rate, ignoring unknown tags),
    * then iterates `FRAME` records (with optional frame parameters)
    * collecting raw C400 planes. Returns (w, h, fpsNum, fpsDen,
    * frames). */
  private[graft] def decodeY4m(bytes: Array[Byte]): (Int, Int, Int, Int, Vector[Array[Byte]]) = {
    var pos = 0
    def line(): String = {
      val s = pos
      while (pos < bytes.length && bytes(pos) != '\n') pos += 1
      require(pos < bytes.length, "unterminated y4m header line")
      pos += 1
      new String(bytes, s, pos - 1 - s, "US-ASCII")
    }
    val header = line().split(' ')
    require(header(0) == "YUV4MPEG2", s"not a y4m stream (magic '${header(0)}')")
    var w = -1; var h = -1; var fn = 25; var fd = 1; var chroma = "420"
    header.drop(1).foreach { tag =>
      if (tag.nonEmpty) tag.head match {
        case 'W' => w = tag.tail.toInt
        case 'H' => h = tag.tail.toInt
        case 'F' => val p = tag.tail.split(':'); fn = p(0).toInt; fd = p(1).toInt
        case 'C' => chroma = tag.tail
        case _ => () // Ip/A/X… — valid, irrelevant here
      }
    }
    require(w > 0 && h > 0, "missing W/H in y4m header")
    require(chroma == "400", s"only C400 (mono) supported, got C$chroma")
    val frameBytes = w * h
    var frames = Vector.empty[Array[Byte]]
    while (pos < bytes.length) {
      require(line().startsWith("FRAME"), "expected FRAME marker")
      require(bytes.length >= pos + frameBytes, "truncated frame")
      frames :+= java.util.Arrays.copyOfRange(bytes, pos, pos + frameBytes)
      pos += frameBytes
    }
    (w, h, fn, fd, frames)
  }

  /** MM7 — REAL video decode: encode each document as a C400 Y4M clip
    * (the synthetic stand-in), run the real parser per partition, and
    * emit container fields + exact per-clip sample statistics. As with
    * mm5/mm6, the samples are the document's own bytes, so the oracle
    * replays encode→parse→stats and the decoder output is hash-checked
    * end to end. */
  def mm7Y4mDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, fn, fd, frames) = decodeY4m(encodeY4m(payload))
        var sum = 0L
        frames.foreach { f =>
          var i = 0
          while (i < f.length) { sum += (f(i) & 0xFF); i += 1 }
        }
        // duration in exact milliseconds: frames·fd·1000/fn (mm5 note:
        // double division on both engines, identical IEEE quotient)
        (id, w, h, frames.length,
          math.floor(frames.length * fd * 1000000L.toDouble / fn) / 1e3,
          sum,
          math.floor((sum * 1000000L).toDouble / (frames.length.toLong * w * h)) / 1e6)
      })
      .toDF("doc_id", "width", "height", "n_frames", "duration_ms", "y_sum", "y_mean")
  }

  private val mm7Oracle =
    s"""WITH t AS (SELECT doc_id, text,
       |         greatest(octet_length(text::BLOB) // $Y4M_FRAME, 1) AS nf FROM documents),
       |px AS (SELECT doc_id, nf,
       |         list_transform(range(1, nf * $Y4M_FRAME + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS p
       |       FROM t)
       |SELECT doc_id, $Y4M_W AS width, $Y4M_H AS height, CAST(nf AS INT) AS n_frames,
       |       floor(nf * 1 * 1000000 / 25) / 1000 AS duration_ms,
       |       CAST(list_sum(p) AS BIGINT) AS y_sum,
       |       floor(list_sum(p) * 1000000 / (nf * $Y4M_FRAME)) / 1000000 AS y_mean
       |FROM px""".stripMargin

  /** 2× box-average downsample of an 8-bit grayscale image: each
    * output pixel is the floor-mean of its 2×2 source block (exact
    * integer arithmetic — sum of four bytes ≤ 1020, `/ 4` truncating,
    * identical to the oracle's `//`). Odd trailing row/column drop
    * (floor dims), the convention of every mipmap chain. */
  private[graft] def boxDownsample2(w: Int, h: Int,
      px: Array[Byte]): (Int, Int, Array[Byte]) = {
    val ow = w / 2; val oh = h / 2
    val out = new Array[Byte](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val base = (2 * y) * w + 2 * x
        val s = (px(base) & 0xFF) + (px(base + 1) & 0xFF) +
          (px(base + w) & 0xFF) + (px(base + w + 1) & 0xFF)
        out(y * ow + x) = (s / 4).toByte
        x += 1
      }
      y += 1
    }
    (ow, oh, out)
  }

  /** MM8 — REAL image resize, upgrading mm4's stride-sampling stub to
    * the genuine article on the REAL decoder's output: parse the PGM
    * ([[decodePgm]] — a production parser, see mm5), then 2× BOX-AVERAGE
    * downsample the pixel matrix ([[boxDownsample2]]) — the actual
    * thumbnail/mipmap arithmetic an image preprocessing pipeline runs,
    * not a byte skip. Per-partition batch decode+resize (the
    * mapPartitions shape real codec calls need); exact integer
    * arithmetic end to end, so the full encode→parse→resize→stats
    * composite is DuckDB-replayable and hash-checked: output dims,
    * resized pixel sum, truncating-div mean, and the resized first-row
    * mod-2^40 fold. Scale: a narrow map — zero shuffle; at 100 TB the
    * binary column streams through executors once. */
  def mm8PgmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, _, px) = decodePgm(encodePgm(payload))
        val (ow, oh, out) = boxDownsample2(w, h, px)
        val (sum, mean, row0) = pxSummary(out, ow, oh)
        (id, w, h, ow, oh, sum, mean, row0)
      })
      .toDF("doc_id", "in_w", "in_h", "out_w", "out_h",
        "px_sum", "px_mean", "row0_hash")
  }

  private val mm8Oracle =
    s"""WITH t AS (SELECT doc_id, text,
       |         greatest(octet_length(text::BLOB) // $PGM_W, 1) AS h FROM documents),
       |px AS (SELECT doc_id, h, h // 2 AS oh,
       |         list_transform(range(1, $PGM_W * h + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT) AS p
       |       FROM t),
       |rs AS (SELECT doc_id, h, oh,
       |         list_transform(range(0, ${PGM_W / 2} * oh), k ->
       |           (p[CAST((k // ${PGM_W / 2}) * 2 * $PGM_W + (k % ${PGM_W / 2}) * 2 + 1 AS INT)]
       |          + p[CAST((k // ${PGM_W / 2}) * 2 * $PGM_W + (k % ${PGM_W / 2}) * 2 + 2 AS INT)]
       |          + p[CAST(((k // ${PGM_W / 2}) * 2 + 1) * $PGM_W + (k % ${PGM_W / 2}) * 2 + 1 AS INT)]
       |          + p[CAST(((k // ${PGM_W / 2}) * 2 + 1) * $PGM_W + (k % ${PGM_W / 2}) * 2 + 2 AS INT)]) // 4) AS q
       |       FROM px)
       |SELECT doc_id, $PGM_W AS in_w, CAST(h AS INT) AS in_h,
       |       ${PGM_W / 2} AS out_w, CAST(oh AS INT) AS out_h,
       |       CAST(list_sum(q) AS BIGINT) AS px_sum,
       |       floor(list_sum(q) * 1000000 / (${PGM_W / 2} * oh)) / 1000000 AS px_mean,
       |       ${RkLsh.foldSql(s"q[1:${PGM_W / 2}]", 31)} AS row0_hash
       |FROM rs""".stripMargin

  /** Grayscale PNG encoder via the JDK's built-in ImageIO codec (zlib
    * DEFLATE + PNG filters — a REAL compressed image format, and the
    * JDK ships its codec on every Java 17, no external library): wraps
    * a document's bytes as a PGM_W-wide 8-bit grayscale image, like
    * [[encodePgm]] but through actual compression. */
  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // would round-trip a temp file on the executor — pointless I/O for
  // in-memory byte arrays, and a hidden dependency on executor tmp
  // space at scale. Memory-only is the right mode for a columnar
  // pipeline; the setter is JVM-global and idempotent.
  javax.imageio.ImageIO.setUseCache(false)

  private[graft] def encodePng(bytes: Array[Byte]): Array[Byte] = {
    val h = math.max(bytes.length / PGM_W, 1)
    val img = new java.awt.image.BufferedImage(PGM_W, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, PGM_W, h,
      java.util.Arrays.copyOf(bytes, PGM_W * h))
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
    bos.toByteArray
  }

  /** Grayscale JPEG encoder via the JDK's built-in codec (lossy DCT). */
  private[graft] def encodeJpeg(bytes: Array[Byte]): Array[Byte] = {
    val h = math.max(bytes.length / PGM_W, 1)
    val img = new java.awt.image.BufferedImage(PGM_W, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, PGM_W, h,
      java.util.Arrays.copyOf(bytes, PGM_W * h))
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer")
    bos.toByteArray
  }

  /** ======================= REAL DECODER =======================
    * Compressed-image decode through `javax.imageio` — the codec stack
    * the JDK itself ships (PNG and JPEG on every Java 17; what remains
    * genuinely environment-blocked is the non-JDK codec family:
    * MP3/H.264/WebP). Accepts any ImageIO-supported payload and
    * normalizes to 8-bit grayscale; production code points this at
    * real .png/.jpg blobs unchanged. Thread-safe (ImageIO.read creates
    * a fresh reader per call) and headless-safe (BufferedImage
    * Graphics2D is pure software). */
  private[graft] def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val w = img.getWidth; val h = img.getHeight
    val gray =
      if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) img
      else {
        val g = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val gr = g.createGraphics(); gr.drawImage(img, 0, 0, null); gr.dispose()
        g
      }
    val out = new Array[Byte](w * h)
    gray.getRaster.getDataElements(0, 0, w, h, out)
    (w, h, out)
  }

  /** MM9 — REAL COMPRESSED image decode, closing the "codec formats"
    * gap within what the JDK ships: each document's bytes compress
    * through the real PNG codec (DEFLATE + filters) and decode back
    * through [[decodeImage]]. PNG is LOSSLESS, so the decoded pixels
    * are the document's own bytes and the whole
    * encode→compress→decode→stats composite is DuckDB-replayable —
    * the same oracle as mm5, now exercised through an actual
    * compression stack instead of raw PGM samples. (JPEG — lossy DCT —
    * cannot be oracle-replayed; see mm10.) Per-partition batch map,
    * zero shuffle. */
  def mm9PngDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, px) = decodeImage(encodePng(payload))
        val (sum, mean, row0) = pxSummary(px, w, h)
        (id, w, h, sum, mean, row0)
      })
      .toDF("doc_id", "width", "height", "px_sum", "px_mean", "row0_hash")
  }

  /** Doc-parameterized linear ramp — the DCT's design regime (the
    * spec's gradient test proves pixel error ≤ 8 there): intercept and
    * the x/y slopes derive from the document's first bytes, clamped at
    * 255 (clamping, not mod — a wrap cliff would inject the high
    * frequencies the bound excludes). Slopes stay within the
    * spec-proven envelope (bx ≤ 1, by ≤ 7 vs the proven by = 8). */
  private[graft] def docRamp(seed: Array[Byte], n: Int): Array[Byte] = {
    val a = if (seed.length > 0) seed(0) & 0xFF else 128
    val bx = if (seed.length > 1) (seed(1) & 0xFF) % 2 else 1
    val by = if (seed.length > 2) (seed(2) & 0xFF) % 8 else 4
    Array.tabulate[Byte](n) { i =>
      math.min(a + bx * (i % PGM_W) + by * (i / PGM_W), 255).toByte
    }
  }

  /** MM10 — REAL JPEG decode (lossy DCT through the JDK codec),
    * oracle-checked on its DETERMINISTIC outputs: the document's own
    * bytes go through encode→decode and the recovered dimensions are
    * hash-compared (any decode failure or dimension drift fails the
    * oracle). The codec-ACCURACY claim (pixel error ≤ 8 on the smooth
    * [[docRamp]] regime) is deliberately NOT a registry column: it is
    * a property of the ENVIRONMENT's ImageIO implementation, not of
    * the query — a different JVM vendor's JPEG encoder exceeding the
    * bound must surface as an environment difference, not a
    * query-correctness failure. The spec tier
    * (DedupSimilaritySpec's slope-space sweep) asserts the bound over
    * the FULL docRamp parameter space — every (intercept, bx, by)
    * combination any corpus can produce, at partial- and full-block
    * heights past the corpus maximum — which is strictly stronger than
    * a per-document boolean. Narrow map, zero shuffle, one codec pass
    * per document. */
  def mm10JpegDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, _) = decodeImage(encodeJpeg(payload))
        (id, w, h)
      })
      .toDF("doc_id", "width", "height")
  }

  private val mm10Oracle =
    s"""SELECT doc_id, $PGM_W AS width,
       |  CAST(greatest(octet_length(text::BLOB) // $PGM_W, 1) AS INT) AS height
       |FROM documents""".stripMargin

  /** mm11 analysis-frame width (samples). */
  private val AF_FRAME = 32

  /** Per-sample features honoring the decoded layout like [[wavStats]]:
    * values center at 0 (8-bit PCM is unsigned → v−128; 16-bit is
    * signed LE), zero crossings count sign changes between consecutive
    * sample values, energy is the integer Σv² per AF_FRAME-sample
    * frame. Returns (zeroCrossings, nFrames, maxFrameEnergy,
    * totalEnergy) — all exact integers. `private[graft]` so the spec
    * can feed layouts the synthetic corpus never produces. */
  private[graft] def audioFeatures(bits: Int,
      raw: Array[Byte]): (Long, Long, Long, Long) = {
    require(bits == 8 || bits == 16, s"unsupported bits/sample: $bits")
    val bytesPer = bits / 8
    val n = raw.length / bytesPer
    def v(k: Int): Int =
      if (bits == 8) (raw(k) & 0xFF) - 128
      else ((raw(2 * k) & 0xFF) | (raw(2 * k + 1).toInt << 8)).toShort.toInt
    var zc = 0L
    var i = 1
    while (i < n) {
      val a = v(i - 1); val b = v(i)
      if ((a < 0 && b >= 0) || (a >= 0 && b < 0)) zc += 1
      i += 1
    }
    val nFrames = (n + AF_FRAME - 1) / AF_FRAME
    var maxE = 0L; var totE = 0L
    var f = 0
    while (f < nFrames) {
      var e = 0L
      var j = f * AF_FRAME
      val end = math.min(j + AF_FRAME, n)
      while (j < end) { val d = v(j); e += d.toLong * d; j += 1 }
      totE += e; if (e > maxE) maxE = e
      f += 1
    }
    (zc, nFrames.toLong, maxE, totE)
  }

  /** MM11 — audio FEATURE EXTRACTION on the real decoder: zero-crossing
    * count and framed energy (Σ(v−center)² per 32-sample frame) — the
    * classic voice-activity/segmentation features every speech curation
    * pipeline computes before filtering — over [[decodeWav]]'s output,
    * honoring the parsed bits/sample rather than assuming the synthetic
    * layout. Completes the decode→feature-extract chain the brief names
    * for audio the way mm8 does for images (decode→resize). Exact
    * integer arithmetic end to end: the composite is DuckDB-replayable
    * and hash-checked. Scale: narrow map, zero shuffle. */
  def mm11AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (_, _, bits, s) = decodeWav(encodeWav(payload))
        val (zc, nf, maxE, totE) = audioFeatures(bits, s)
        (id, (s.length / (bits / 8)).toLong, zc, nf, maxE, totE)
      })
      .toDF("doc_id", "n_samples", "zero_crossings", "n_frames",
        "max_energy", "total_energy")
  }

  private val mm11Oracle =
    s"""WITH t AS (SELECT doc_id,
       |         list_transform(range(1, octet_length(text::BLOB) + 1),
       |           j -> ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT - 128) AS s
       |       FROM documents),
       |zc AS (SELECT doc_id,
       |         CAST(coalesce(len(list_filter(range(2, len(s) + 1),
       |           j -> (s[CAST(j - 1 AS INT)] < 0 AND s[CAST(j AS INT)] >= 0)
       |             OR (s[CAST(j - 1 AS INT)] >= 0 AND s[CAST(j AS INT)] < 0))), 0)
       |           AS BIGINT) AS zero_crossings,
       |         CAST(len(s) AS BIGINT) AS n_samples
       |       FROM t),
       |fr AS (SELECT doc_id, u.f AS f, CAST(sum(u.v * u.v) AS BIGINT) AS e
       |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(s) + 1),
       |               j -> {'f': (j - 1) // $AF_FRAME, 'v': s[CAST(j AS INT)]})) AS u
       |             FROM t)
       |       GROUP BY doc_id, u.f),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |         CAST(max(e) AS BIGINT) AS max_energy,
       |         CAST(sum(e) AS BIGINT) AS total_energy
       |       FROM fr GROUP BY doc_id)
       |SELECT z.doc_id, z.n_samples, z.zero_crossings,
       |       coalesce(a.n_frames, 0) AS n_frames,
       |       coalesce(a.max_energy, 0) AS max_energy,
       |       coalesce(a.total_energy, 0) AS total_energy
       |FROM zc z LEFT JOIN ag a USING (doc_id)""".stripMargin

  /** Per-pair motion features over decoded frames: SAD (sum of absolute
    * per-pixel differences) between consecutive frames — exact
    * integers. Returns (nPairs, totalSad, maxSad, stillPairs).
    * `private[graft]` for the spec. */
  private[graft] def motionFeatures(frames: Vector[Array[Byte]])
      : (Long, Long, Long, Long) = {
    var tot = 0L; var mx = 0L; var still = 0L
    var t = 1
    while (t < frames.length) {
      val a = frames(t - 1); val b = frames(t)
      var sad = 0L
      var k = 0
      while (k < a.length) {
        sad += math.abs((a(k) & 0xFF) - (b(k) & 0xFF)); k += 1
      }
      tot += sad; if (sad > mx) mx = sad; if (sad == 0L) still += 1
      t += 1
    }
    ((frames.length - 1).toLong.max(0L), tot, mx, still)
  }

  /** MM12 — video MOTION features on the real decoder: per consecutive
    * frame pair the SAD (Σ|pixel diff|), plus the count of STILL pairs
    * (SAD = 0) — the signal adaptive frame sampling keys on (keep
    * frames with motion, drop duplicates of the previous frame), the
    * way mm11's zero-crossing/energy pair is the audio gate. Completes
    * decode→feature-extract across the image/audio/video triple
    * (mm8 / mm11 / mm12). Exact integers over [[decodeY4m]]'s frames,
    * so the composite replays in DuckDB; narrow map, zero shuffle. */
  def mm12MotionFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withBinary(spark, dir)
      .select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (_, _, _, _, frames) = decodeY4m(encodeY4m(payload))
        val (np, tot, mx, still) = motionFeatures(frames)
        (id, frames.length.toLong, np, tot, mx, still)
      })
      .toDF("doc_id", "n_frames", "n_pairs", "total_sad", "max_sad",
        "still_pairs")
  }

  private val mm12Oracle =
    s"""WITH t AS (SELECT doc_id, octet_length(text::BLOB) AS len, text
       |           FROM documents),
       |fr AS (SELECT doc_id, len,
       |         greatest(len // $Y4M_FRAME, 1) AS f FROM t),
       |px AS (SELECT doc_id, f,
       |         list_transform(range(1, f * $Y4M_FRAME + 1),
       |           j -> CASE WHEN j <= len
       |                  THEN ('0x' || substr(hex(encode(text)), CAST(2 * j - 1 AS INT), 2))::BIGINT
       |                  ELSE 0 END) AS v
       |       FROM fr JOIN t USING (doc_id, len)),
       |sd AS (SELECT doc_id, f, u.t AS t, u.sad AS sad FROM (
       |         SELECT doc_id, f, unnest(list_transform(range(1, f),
       |           t -> {'t': t, 'sad': list_sum(list_transform(range(1, $Y4M_FRAME + 1),
       |             k -> abs(v[CAST((t - 1) * $Y4M_FRAME + k AS INT)]
       |                    - v[CAST(t * $Y4M_FRAME + k AS INT)])))})) AS u
       |         FROM px)),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(sad) AS BIGINT) AS total_sad,
       |         CAST(max(sad) AS BIGINT) AS max_sad,
       |         CAST(sum(CASE WHEN sad = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS still_pairs
       |       FROM sd GROUP BY doc_id)
       |SELECT f.doc_id, CAST(f.f AS BIGINT) AS n_frames,
       |       coalesce(a.n_pairs, 0) AS n_pairs,
       |       coalesce(a.total_sad, 0) AS total_sad,
       |       coalesce(a.max_sad, 0) AS max_sad,
       |       coalesce(a.still_pairs, 0) AS still_pairs
       |FROM fr f LEFT JOIN ag a USING (doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("mm1_binary_meta", mm1Meta, Some(mm1Oracle)),
    Q("mm2_decode_features", mm2DecodeFeatures, Some(mm2Oracle)),
    Q("mm4_resize", mm4Resize, Some(mm4Oracle)),
    Q("mm5_pgm_decode", mm5PgmDecode, Some(mm5Oracle)),
    Q("mm8_pgm_resize", mm8PgmResize, Some(mm8Oracle)),
    Q("mm9_png_decode", mm9PngDecode, Some(mm5Oracle)),
    Q("mm10_jpeg_decode", mm10JpegDecode, Some(mm10Oracle)),
    Q("mm6_wav_decode", mm6WavDecode, Some(mm6Oracle)),
    Q("mm11_audio_features", mm11AudioFeatures, Some(mm11Oracle)),
    Q("mm7_y4m_decode", mm7Y4mDecode, Some(mm7Oracle)),
    Q("mm12_motion_features", mm12MotionFeatures, Some(mm12Oracle)))
}
